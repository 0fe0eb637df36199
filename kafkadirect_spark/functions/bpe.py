"""Byte-pair-encoding tokenizer training and application, Spark-first.

The one tokenizer operation ``text.bpe_token_count`` (a regex proxy)
cannot do: actually LEARN a merge vocabulary from the corpus and
encode text with it — the "train a tokenizer on 100 TB" step of a
training-data pipeline.

Architecture (the classic Sennrich'16 formulation, arranged for
Spark):

1. **Word-type counting is the corpus-scale pass** — one
   explode→groupBy over every token occurrence (map-side combined),
   then a distributed top-``max_word_types`` by (count DESC, word
   ASC).  100 TB of text reduces to a Heaps-law-bounded word-TYPE
   table (~1e7-1e8 rows); capping it by frequency is what every
   production tokenizer trainer does — merges are learned from
   aggregated counts, never from the raw corpus.
2. **Merge learning over the type table**: one bounded collect of
   the capped table (``max_word_types``, hard-guarded at
   ``MAX_DRIVER_TYPES``) and the exact greedy loop in plain Python —
   zero Spark jobs per merge.  Pair counts are exact integers, ties
   break (count DESC, lhs ASC, rhs ASC).
3. **Encoding** (``bpe_encode``) applies the learned merges in rank
   order.  The pass itself, ``_encode_words``, is shared by all three
   tokenizer families (BPE, ``wordpiece``, ``unigram``): one stateless
   ``mapInPandas`` over the ``[^a-z0-9]+`` token surface with a
   per-task word memo, and each family passes only its word→pieces
   function and the trained artifact it closes over (here the
   n_merges-row merge list).  Encode frames are ``(id, pieces
   array<string>, n long)``; ``bpe_chunk`` (and ``unigram_chunk``) are
   ``tokeval.windowed_chunks`` over that frame with stride = budget.

Pair statistics count every adjacent position (overlapping pairs in
a run like 'aaa' count twice) while application merges left-to-right
non-overlapping — exactly Sennrich's reference algorithm, and
exactly what the DuckDB oracle (``merges_oracle_sql``) replays with
per-round recursive-CTE rewrites.

Reference analogue: none (SURVEY.md §2 — the reference has no
document model); beyond-parity, the tokenizer-training step of an
LLM data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkadirect_spark.functions.text import tokens
from kafkadirect_spark.functions.tokeval import windowed_chunks

#: merge learning refuses type tables above this — the greedy loop
#: holds the table in driver memory and is O(types · merges)
MAX_DRIVER_TYPES = 5_000_000

_MERGES_SCHEMA = ("merge_rank long, lhs string, rhs string, "
                  "pair_count long")


# ---------------------------------------------------------------------------
# word-type counting (the corpus-scale pass)
# ---------------------------------------------------------------------------

def word_type_counts(df: DataFrame, text_col: str, min_count: int = 2,
                     max_word_types: int = 1 << 16) -> DataFrame:
    """``(word, n)`` — the ``max_word_types`` most frequent token
    types with count ≥ ``min_count``, deterministically capped by
    (n DESC, word ASC).  One shuffle over token occurrences with
    map-side partial counts; the cap is a distributed TakeOrdered
    (every task keeps ≤ ``max_word_types`` rows), never a global
    sort."""
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if max_word_types < 1:
        raise ValueError("max_word_types must be >= 1")
    return (df.select(F.explode(tokens(text_col)).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= min_count)
            .orderBy(F.col("n").desc(), F.col("word").asc())
            .limit(max_word_types))


def _collect_types(df: DataFrame, text_col: str, min_count: int,
                   max_word_types: int) -> list:
    """The capped type table as ``[(word, count), ...]`` — the one
    bounded collect both merge trainers learn from."""
    if max_word_types > MAX_DRIVER_TYPES:
        raise ValueError(f"max_word_types={max_word_types} exceeds "
                         f"MAX_DRIVER_TYPES={MAX_DRIVER_TYPES}")
    wt = word_type_counts(df, text_col, min_count, max_word_types)
    return [(r["word"], int(r["n"])) for r in wt.collect()]


# ---------------------------------------------------------------------------
# the greedy merge step (one Python definition, used by both trainers,
# bpe_encode and the tests' independent checks)
# ---------------------------------------------------------------------------

def _py_apply(sym: tuple, lhs: str, rhs: str,
              product: str | None = None) -> tuple:
    """Left-to-right non-overlapping rewrite of adjacent (lhs, rhs) →
    ``product`` over a symbol tuple (default ``lhs + rhs`` — BPE;
    WordPiece strips the right side's continuation prefix)."""
    ab = lhs + rhs if product is None else product
    out = []
    i = 0
    n = len(sym)
    while i < n:
        if i + 1 < n and sym[i] == lhs and sym[i + 1] == rhs:
            out.append(ab)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def _py_learn(types: list, n_merges: int) -> list:
    """Exact greedy BPE over a ``[(word, count), ...]`` type table:
    per round, count every adjacent symbol pair weighted by word
    count, take the (count DESC, lhs ASC, rhs ASC) argmax, rewrite.
    Returns ``[(rank, lhs, rhs, pair_count), ...]`` — fewer than
    ``n_merges`` rows iff the pair space is exhausted."""
    segs = {w: tuple(w) for w, _ in types}
    merges = []
    for rank in range(1, n_merges + 1):
        pc: dict = {}
        for w, n in types:
            s = segs[w]
            for i in range(len(s) - 1):
                k = (s[i], s[i + 1])
                pc[k] = pc.get(k, 0) + n
        if not pc:
            break
        (lhs, rhs), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, lhs, rhs, int(c)))
        # symbols are contiguous substrings of the word in order, so
        # an adjacent (lhs, rhs) implies lhs+rhs is a substring —
        # skip words that cannot contain the pair
        pat = lhs + rhs
        for w in segs:
            if pat in w:
                segs[w] = _py_apply(segs[w], lhs, rhs)
    return merges


# ---------------------------------------------------------------------------
# training
# ---------------------------------------------------------------------------

def learn_bpe(df: DataFrame, text_col: str, n_merges: int,
              min_count: int = 2,
              max_word_types: int = 1 << 16) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a text column.  Returns
    ``(merge_rank, lhs, rhs, pair_count)`` ordered by rank — ≤
    ``n_merges`` rows (early exhaustion emits fewer)."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    types = _collect_types(df, text_col, min_count, max_word_types)
    return df.sparkSession.createDataFrame(_py_learn(types, n_merges),
                                           _MERGES_SCHEMA)


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------

def _merges_list(merges) -> list:
    """``[(lhs, rhs), ...]`` in rank order from a merges frame
    (collected: ≤ n_merges rows, bounded by construction) or a list of
    ``(lhs, rhs)`` pairs already in rank order."""
    if isinstance(merges, DataFrame):
        rows = merges.select("merge_rank", "lhs", "rhs").collect()
        return [(r["lhs"], r["rhs"])
                for r in sorted(rows, key=lambda r: r["merge_rank"])]
    return [(a, b) for a, b in merges]


def _encode_words(df: DataFrame, id_col: str, text_col: str, segment,
                  out_col: str, n_col: str) -> DataFrame:
    """The one encode pass all three tokenizer families run: tokenize
    (the same ``[^a-z0-9]+`` surface as ``text.tokens``), map every
    word through ``segment(word) -> tuple of pieces`` and concatenate.
    Returns ``(id_col, out_col array<string>, n_col long)``; a null
    text encodes to no pieces.

    One stateless ``mapInPandas`` pass, no shuffle, so it applies
    unchanged to a streaming frame.  ``segment`` and the trained
    artifact it closes over ship in the task closure; a per-task
    word→pieces memo encodes each distinct word once per task (memo
    size is bounded by the task's distinct words — the same envelope
    as any per-task dictionary aggregation)."""
    id_field = df.schema[id_col]
    out_schema = (f"{id_field.name} {id_field.dataType.simpleString()}, "
                  f"{out_col} array<string>, {n_col} long")
    # widen narrow scans so the Arrow-batched encode runs cluster-wide
    # (a no-op on streaming frames and on scans already as wide as the
    # cluster — the 100 TB case); the per-task word memo still applies
    from kafkadirect_spark.functions.dedup import _widen
    cols = _widen(df.select(id_col, text_col))

    def gen(batches):
        import re

        import pandas as pd

        tok_re = re.compile("[^a-z0-9]+")
        memo: dict = {}
        for pdf in batches:
            seqs, lens = [], []
            for txt in pdf[text_col]:
                out: list = []
                if txt is not None and not isinstance(txt, float):
                    for w in tok_re.split(str(txt).lower()):
                        if w:
                            seg = memo.get(w)
                            if seg is None:
                                seg = memo[w] = segment(w)
                            out.extend(seg)
                seqs.append(out)
                lens.append(len(out))
            yield pd.DataFrame({id_col: pdf[id_col], out_col: seqs,
                                n_col: pd.Series(lens, dtype="int64")})

    return cols.mapInPandas(gen, out_schema)


def bpe_encode(df: DataFrame, id_col: str, text_col: str,
               merges) -> DataFrame:
    """Encode a text column with a learned merge list — standard BPE
    inference: char-split each word, apply every merge in rank order.
    Returns ``(id_col, bpe array<string>, n_bpe long)``.

    ``merges`` is the ``learn_bpe`` frame or a ``[(lhs, rhs), ...]``
    list in rank order; a frame is collected (≤ n_merges rows) and
    shipped in the task closure of the shared ``_encode_words`` pass."""
    pairs = _merges_list(merges)

    def segment(word: str) -> tuple:
        seg = tuple(word)
        for a, b in pairs:
            if (a + b) in word:
                seg = _py_apply(seg, a, b)
        return seg

    return _encode_words(df, id_col, text_col, segment, "bpe", "n_bpe")


# ---------------------------------------------------------------------------
# DuckDB oracle generators — the merge loop replayed as unrolled
# recursive-CTE rounds (same pattern as graph.pagerank_scaled and the
# PQ training oracles: AS MATERIALIZED everywhere a CTE is referenced
# more than once, or DuckDB's default inlining re-evaluates the chain
# combinatorially)
# ---------------------------------------------------------------------------

_TOK_SQL = ("list_filter(regexp_split_to_array(lower(text), "
            "'[^a-z0-9]+'), x -> x <> '')")


def _rewrite_round(src: str, out: str, best: str, rw: str) -> str:
    """One merge application as a recursive CTE: every word walks its
    symbol array one index per recursion step (skip-by-jumping-2 on a
    hit), completed rows have i = len(s) + 1."""
    return f"""
    {rw} AS (
      SELECT word, n, s, 1 AS i, []::VARCHAR[] AS o FROM {src}
      UNION ALL
      SELECT word, n, s,
        CASE WHEN i < len(s) AND s[i] = (SELECT lhs FROM {best})
                  AND s[i+1] = (SELECT rhs FROM {best})
             THEN i + 2 ELSE i + 1 END,
        CASE WHEN i < len(s) AND s[i] = (SELECT lhs FROM {best})
                  AND s[i+1] = (SELECT rhs FROM {best})
             THEN list_append(o, s[i] || s[i+1])
             ELSE list_append(o, s[i]) END
      FROM {rw} WHERE i <= len(s)),
    {out} AS MATERIALIZED (
      SELECT word, n, o AS s FROM {rw} WHERE i = len(s) + 1)"""


def _pair_round(src: str, pc: str, best: str) -> str:
    return f"""
    {pc} AS MATERIALIZED (
      SELECT s[i] AS lhs, s[i+1] AS rhs, SUM(n)::BIGINT AS c
      FROM (SELECT n, s, unnest(generate_series(1, len(s)-1)) AS i
            FROM {src} WHERE len(s) >= 2)
      GROUP BY 1, 2),
    {best} AS MATERIALIZED (
      SELECT lhs, rhs, c FROM {pc}
      ORDER BY c DESC, lhs ASC, rhs ASC LIMIT 1)"""


def _train_ctes(n_merges: int, min_count: int,
                max_word_types: int) -> str:
    parts = [f"""
    wt AS MATERIALIZED (
      SELECT tok AS word, COUNT(*)::BIGINT AS n
      FROM (SELECT unnest({_TOK_SQL}) AS tok FROM documents)
      GROUP BY 1 HAVING COUNT(*) >= {min_count}
      ORDER BY n DESC, word ASC LIMIT {max_word_types}),
    t0 AS MATERIALIZED (
      SELECT word, n,
             list_transform(generate_series(1, length(word)),
                            g -> substr(word, g, 1)) AS s
      FROM wt)"""]
    for r in range(1, n_merges + 1):
        parts.append(_pair_round(f"t{r - 1}", f"pc{r}", f"best{r}"))
        if r < n_merges:  # the last round only needs its argmax
            parts.append(_rewrite_round(f"t{r - 1}", f"t{r}",
                                        f"best{r}", f"rw{r}"))
    return ",".join(parts)


def merges_oracle_sql(n_merges: int, min_count: int = 2,
                      max_word_types: int = 1 << 16) -> str:
    """DuckDB replay of ``learn_bpe`` over the ``documents`` view."""
    selects = " UNION ALL ".join(
        f"SELECT {r}::BIGINT AS merge_rank, lhs, rhs, "
        f"c AS pair_count FROM best{r}"
        for r in range(1, n_merges + 1))
    return (f"WITH RECURSIVE {_train_ctes(n_merges, min_count, max_word_types)}"
            f" SELECT * FROM ({selects}) ORDER BY merge_rank")


def encode_lengths_oracle_sql(n_merges: int, min_count: int = 2,
                              max_word_types: int = 1 << 16) -> str:
    """DuckDB replay of ``bpe_encode(...).select(id, n_bpe)``: the
    merge selection runs on the CAPPED type table (exactly as
    training), then the learned merges rewrite EVERY corpus word
    type (the u-chain — inference covers words the cap/min_count
    floor excluded from training), and per-doc lengths sum the final
    segmentation sizes over word occurrences."""
    parts = [_train_ctes(n_merges, min_count, max_word_types)]
    # inference chain over all types: n carries the corpus-wide count
    # (unused by the rewrite, kept for CTE-shape reuse)
    parts.append("""
    u0 AS MATERIALIZED (
      SELECT tok AS word, COUNT(*)::BIGINT AS n,
             list_transform(generate_series(1, length(tok)),
                            g -> substr(tok, g, 1)) AS s
      FROM (SELECT unnest(""" + _TOK_SQL + """) AS tok FROM documents)
      GROUP BY 1, tok)""")
    for r in range(1, n_merges + 1):
        # training's last round skipped its rewrite; inference needs
        # every learned merge applied, so rewrite all n_merges rounds
        parts.append(_rewrite_round(f"u{r - 1}", f"u{r}",
                                    f"best{r}", f"urw{r}"))
    ctes = ",".join(parts)
    return f"""WITH RECURSIVE {ctes},
    docw AS (SELECT doc_id, unnest({_TOK_SQL}) AS word FROM documents),
    perdoc AS (
      SELECT doc_id, SUM(len(u{n_merges}.s))::BIGINT AS n_bpe
      FROM docw JOIN u{n_merges} USING (word) GROUP BY 1)
    SELECT d.doc_id, COALESCE(p.n_bpe, 0)::BIGINT AS n_bpe
    FROM documents d LEFT JOIN perdoc p USING (doc_id)"""


def bpe_vocab(df: DataFrame, text_col: str, merges,
              min_count: int = 2,
              max_word_types: int = 1 << 16) -> DataFrame:
    """The vocabulary a merge list induces over a corpus — the
    artifact a tokenizer ships: every base character observed in the
    (capped) word-type table plus every merge product, with the rank
    that introduced it.  ``(token, kind 'char'|'merge', rank)`` —
    rank 0 for base characters, the merge's 1-based rank otherwise.

    One word-type counting pass (the same capped table training
    used) exploded to distinct characters — register-sized output —
    unioned with the ≤ n_merges merge rows."""
    spark = df.sparkSession
    chars = (word_type_counts(df, text_col, min_count, max_word_types)
             .select(F.explode(F.split("word", "")).alias("token"))
             .filter(F.col("token") != "")
             .distinct()
             .select("token", F.lit("char").alias("kind"),
                     F.lit(0).cast("long").alias("rank")))
    merged = spark.createDataFrame(
        [(a + b, "merge", r)
         for r, (a, b) in enumerate(_merges_list(merges), start=1)],
        "token string, kind string, rank long")
    return chars.unionByName(merged)


def bpe_chunk(df: DataFrame, id_col: str, text_col: str, merges,
              budget: int) -> DataFrame:
    """Split every document into ≤ ``budget``-token chunks UNDER THE
    LEARNED TOKENIZER — the model-input assembly step where a
    char/word-proxy budget misallocates (a 512-BPE-token window is
    not 512 words).  Token-array chunks, not re-glued text: what a
    training pipeline actually feeds forward.

    One ``bpe_encode`` pass, then ``tokeval.windowed_chunks`` with
    stride = budget (disjoint chunks, row-local).  Empty documents
    emit zero chunks.  Returns ``(id_col, chunk_idx, n_tokens, bpe)``.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    ch = windowed_chunks(bpe_encode(df, id_col, text_col, merges),
                         id_col, "bpe", budget)
    return ch.select(id_col, "chunk_idx", "n_tokens",
                     F.col("tokens").alias("bpe"))
