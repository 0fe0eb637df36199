"""WordPiece tokenizer training and application, Spark-first — the
third tokenizer family beside BPE (``functions/bpe.py``, greedy
pair-count merges) and Unigram-LM (``functions/unigram.py``,
Viterbi-EM pruning): likelihood-scored merges at train time, greedy
LONGEST-MATCH inference with ``##`` continuation pieces (Schuster &
Nakajima 2012; the BERT tokenizer — public literature).

What distinguishes it, and what this module implements exactly:

1. **Likelihood scoring.**  Each round merges the adjacent pair
   maximizing ``count(lhs,rhs) / (count(lhs) · count(rhs))`` — pairs
   that co-occur MORE than their parts' popularity predicts — where
   symbol counts are frequencies in the CURRENT segmentation.  For
   cross-engine exactness the score is defined as the scaled integer
   ``score_key = (pair·10^18) DIV (cnt_lhs·cnt_rhs)`` (pair ≤
   min(cnt_lhs, cnt_rhs) ⇒ key ≤ 10^18, BIGINT-safe; the products run
   in DECIMAL(38,0) / HUGEINT so nothing overflows at corpus counts),
   ties broken (key DESC, pair DESC, lhs ASC, rhs ASC).  This integer
   quantization IS the published semantics of the operator — the
   trainer and the DuckDB oracle compute the identical argmax.
2. **Continuation symbols.**  A word char-splits as ``w[0], ##w[1],
   …``; merging ``(a, ##b)`` yields ``a+b``, merging ``(##a, ##b)``
   yields ``##ab`` — the merged symbol strips the right side's
   continuation prefix, so every symbol is (##?) + a contiguous
   substring of the word.
3. **Greedy longest-match encode** (NOT merge replay): each word is
   consumed left to right, at each position taking the LONGEST
   vocabulary piece that matches (continuation pieces after the first
   slot); a position with no match makes the whole word ``[UNK]`` —
   BERT's inference rule.  The vocabulary is the training table's
   observed chars (plain + continuation) plus every merge product.

Training mirrors ``learn_bpe``: one bounded collect of the capped
word-TYPE table (Heaps-law bounded; hard-guarded at
``MAX_DRIVER_TYPES``) and the exact loop in Python.  ``learn_wordpiece``
returns the merges; ``wordpiece_vocab`` runs the same training step
and returns the vocabulary frame, the one artifact
``wordpiece_encode`` takes — the encode counts nothing itself, so it
applies unchanged to a streaming frame.

Reference analogue: none (SURVEY.md §2 — no document model);
beyond-parity tokenizer machinery.  The encode runs the shared
``bpe._encode_words`` pass, so its frame satisfies the ``tokeval``
contract and ``windowed_chunks`` / ``tokenizer_eval`` apply
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kafkadirect_spark.functions import bpe
from kafkadirect_spark.functions.bpe import _TOK_SQL, _py_apply

#: the score quantization: key = pair·SCALE DIV (cnt_lhs·cnt_rhs)
SCALE = 10 ** 18

UNK = "[UNK]"

_MERGES_SCHEMA = ("merge_rank long, lhs string, rhs string, "
                  "pair_count long, score_key long")


def _strip(piece: str) -> str:
    return piece[2:] if piece.startswith("##") else piece


def _merge_product(lhs: str, rhs: str) -> str:
    return lhs + _strip(rhs)


def _wp_symbols(word: str) -> tuple:
    return tuple([word[0]] + ["##" + ch for ch in word[1:]])


def _py_learn(types: list, n_merges: int) -> list:
    """Exact WordPiece training over a ``[(word, count), ...]`` type
    table — the one python definition the trainer and the tests'
    independent checks share.  Returns ``[(rank, lhs, rhs,
    pair_count, score_key), ...]``."""
    segs = {w: _wp_symbols(w) for w, _ in types}
    merges = []
    for rank in range(1, n_merges + 1):
        pc: dict = {}
        sc: dict = {}
        for w, n in types:
            s = segs[w]
            for sym in s:
                sc[sym] = sc.get(sym, 0) + n
            for i in range(len(s) - 1):
                k = (s[i], s[i + 1])
                pc[k] = pc.get(k, 0) + n
        if not pc:
            break
        def key(kv):
            (a, b), c = kv
            return (-(c * SCALE // (sc[a] * sc[b])), -c, a, b)
        (lhs, rhs), c = min(pc.items(), key=key)
        merges.append((rank, lhs, rhs, int(c),
                       int(c * SCALE // (sc[lhs] * sc[rhs]))))
        pat = _strip(lhs) + _strip(rhs)
        for w in segs:
            # every symbol is (##?)+substring, so an adjacent hit
            # implies the stripped concatenation is a substring
            if pat in w:
                segs[w] = _py_apply(segs[w], lhs, rhs,
                                    _merge_product(lhs, rhs))
    return merges


def _train(df: DataFrame, text_col: str, n_merges: int, min_count: int,
           max_word_types: int) -> tuple:
    """``(types, merges)``: the one bounded type-table collect (the
    same ``bpe._collect_types`` as ``bpe.learn_bpe``) and the exact
    scored-merge loop over it."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    types = bpe._collect_types(df, text_col, min_count, max_word_types)
    return types, _py_learn(types, n_merges)


def learn_wordpiece(df: DataFrame, text_col: str, n_merges: int,
                    min_count: int = 2,
                    max_word_types: int = 1 << 16) -> DataFrame:
    """Learn ``n_merges`` WordPiece merges from a text column.
    Returns ``(merge_rank, lhs, rhs, pair_count, score_key)`` ordered
    by rank — ≤ ``n_merges`` rows (early exhaustion emits fewer).
    The same type-table collect as ``bpe.learn_bpe``; only the scored
    argmax and the ##-stripped merge product differ."""
    _, merges = _train(df, text_col, n_merges, min_count, max_word_types)
    return df.sparkSession.createDataFrame(merges, _MERGES_SCHEMA)


# ---------------------------------------------------------------------------
# vocabulary + greedy longest-match encoding
# ---------------------------------------------------------------------------

def _vocab_rows(types: list, merges: list) -> list:
    """``[(piece, kind, rank), ...]``: every observed char of the
    capped training table — plain at word start (``char``),
    ##-prefixed after (``cont_char``), rank 0 — then every merge
    product (``merge``, its 1-based rank)."""
    chars = sorted({p for w, _ in types for p in _wp_symbols(w)})
    return ([(p, "cont_char" if p.startswith("##") else "char", 0)
             for p in chars]
            + [(_merge_product(m[1], m[2]), "merge", m[0])
               for m in merges])


def _py_vocab(types: list, merges: list) -> set:
    """The inference vocabulary: the pieces of ``_vocab_rows``."""
    return {p for p, _, _ in _vocab_rows(types, merges)}


def _py_encode_word(word: str, vocab: set) -> tuple:
    """BERT's greedy longest-match-first: longest vocabulary piece at
    each position (continuation form after the first); any position
    with no match makes the whole word [UNK]."""
    pieces = []
    pos = 0
    n = len(word)
    while pos < n:
        length = n - pos
        while length > 0:
            cand = word[pos:pos + length]
            if pos > 0:
                cand = "##" + cand
            if cand in vocab:
                pieces.append(cand)
                pos += length
                break
            length -= 1
        else:
            return (UNK,)
    return tuple(pieces)


def wordpiece_vocab(df: DataFrame, text_col: str, n_merges: int,
                    min_count: int = 2,
                    max_word_types: int = 1 << 16) -> DataFrame:
    """Train WordPiece and return the shippable artifact
    ``wordpiece_encode`` takes: ``(piece, kind 'char'|'cont_char'|
    'merge', rank)`` (rank 0 for base pieces).  One type-table
    collect — the same training step as ``learn_wordpiece`` — and the
    rest in Python; register-sized output."""
    types, merges = _train(df, text_col, n_merges, min_count,
                           max_word_types)
    return df.sparkSession.createDataFrame(
        _vocab_rows(types, merges), "piece string, kind string, rank long")


def wordpiece_encode(df: DataFrame, id_col: str, text_col: str,
                     vocab: DataFrame) -> DataFrame:
    """Encode a text column with a trained WordPiece vocabulary —
    greedy longest-match per word through the shared
    ``bpe._encode_words`` pass.  Returns ``(id_col, pieces
    array<string>, n_pieces long)`` (the shared tokenizer-consumer
    contract, so ``tokeval`` applies unchanged).

    ``vocab`` is the ``wordpiece_vocab`` frame, collected (bounded by
    construction) into the task closure.  The encode needs nothing but
    that artifact, so it runs unchanged on a streaming ``df``."""
    pieces = {r["piece"] for r in vocab.select("piece").collect()}
    return bpe._encode_words(df, id_col, text_col,
                             lambda word: _py_encode_word(word, pieces),
                             "pieces", "n_pieces")


# ---------------------------------------------------------------------------
# DuckDB oracle generators — training rounds unrolled like
# bpe.merges_oracle_sql (AS MATERIALIZED against combinatorial CTE
# re-inlining), the scored argmax in HUGEINT, the rewrite with the
# ##-stripped product; encode replayed as a longest-match table + a
# position-walking recursion per word TYPE.
# ---------------------------------------------------------------------------

_WP_SYMBOLS_SQL = (
    "list_transform(generate_series(1, length(word)), g -> "
    "CASE WHEN g = 1 THEN substr(word, g, 1) "
    "ELSE '##' || substr(word, g, 1) END)")

_PROD_SQL = ("{lhs} || CASE WHEN starts_with({rhs}, '##') "
             "THEN {rhs}[3:] ELSE {rhs} END")


def _score_round(src: str, pc: str, sc: str, best: str) -> str:
    prod = _PROD_SQL.format(lhs="lhs", rhs="rhs")
    return f"""
    {sc} AS MATERIALIZED (
      SELECT sym, SUM(n)::BIGINT AS cnt
      FROM (SELECT n, unnest(s) AS sym FROM {src})
      GROUP BY 1),
    {pc} AS MATERIALIZED (
      SELECT s[i] AS lhs, s[i+1] AS rhs, SUM(n)::BIGINT AS c
      FROM (SELECT n, s, unnest(generate_series(1, len(s)-1)) AS i
            FROM {src} WHERE len(s) >= 2)
      GROUP BY 1, 2),
    {best} AS MATERIALIZED (
      SELECT lhs, rhs, c,
             ((c::HUGEINT * {SCALE}::HUGEINT)
              // (a.cnt::HUGEINT * b.cnt::HUGEINT))::BIGINT AS k,
             {prod} AS prod
      FROM {pc} JOIN {sc} a ON lhs = a.sym JOIN {sc} b ON rhs = b.sym
      ORDER BY k DESC, c DESC, lhs ASC, rhs ASC LIMIT 1)"""


def _rewrite_round(src: str, out: str, best: str, rw: str) -> str:
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
             THEN list_append(o, (SELECT prod FROM {best}))
             ELSE list_append(o, s[i]) END
      FROM {rw} WHERE i <= len(s)),
    {out} AS MATERIALIZED (
      SELECT word, n, o AS s FROM {rw} WHERE i = len(s) + 1)"""


def _train_ctes(n_merges: int, min_count: int,
                max_word_types: int) -> str:
    parts = [f"""
    wt AS MATERIALIZED (
      SELECT tok AS word, COUNT(*)::BIGINT AS n
      FROM (SELECT unnest({_TOK_SQL}) AS tok FROM documents)
      GROUP BY 1 HAVING COUNT(*) >= {min_count}
      ORDER BY n DESC, word ASC LIMIT {max_word_types}),
    t0 AS MATERIALIZED (
      SELECT word, n, {_WP_SYMBOLS_SQL} AS s FROM wt)"""]
    for r in range(1, n_merges + 1):
        parts.append(_score_round(f"t{r - 1}", f"pc{r}", f"sc{r}",
                                  f"best{r}"))
        if r < n_merges:
            parts.append(_rewrite_round(f"t{r - 1}", f"t{r}",
                                        f"best{r}", f"rw{r}"))
    return ",".join(parts)


def merges_oracle_sql(n_merges: int, min_count: int = 2,
                      max_word_types: int = 1 << 16) -> str:
    """DuckDB replay of ``learn_wordpiece`` over the ``documents``
    view — the scored argmax of every round."""
    selects = " UNION ALL ".join(
        f"SELECT {r}::BIGINT AS merge_rank, lhs, rhs, "
        f"c AS pair_count, k AS score_key FROM best{r}"
        for r in range(1, n_merges + 1))
    return (f"WITH RECURSIVE "
            f"{_train_ctes(n_merges, min_count, max_word_types)}"
            f" SELECT * FROM ({selects}) ORDER BY merge_rank")


def encode_lengths_oracle_sql(n_merges: int, min_count: int = 2,
                              max_word_types: int = 1 << 16) -> str:
    """DuckDB replay of ``wordpiece_encode(...).select(id, n_pieces)``:
    train (the full scored-merge unroll), build the inference
    vocabulary (observed chars of the capped table + merge products),
    precompute the longest match per (word type, position), walk each
    word with a position recursion (no-match ⇒ the whole word is one
    [UNK]), then sum per document over word occurrences."""
    vocab_merges = " UNION ALL ".join(
        f"SELECT prod AS piece FROM best{r}"
        for r in range(1, n_merges + 1))
    return f"""WITH RECURSIVE {_train_ctes(n_merges, min_count,
                                           max_word_types)},
    vocab AS MATERIALIZED (
      SELECT DISTINCT piece,
             starts_with(piece, '##') AS cont,
             CASE WHEN starts_with(piece, '##')
                  THEN piece[3:] ELSE piece END AS body
      FROM (SELECT unnest({_WP_SYMBOLS_SQL}) AS piece FROM wt
            UNION ALL {vocab_merges})),
    types AS MATERIALIZED (
      SELECT tok AS word, COUNT(*)::BIGINT AS n
      FROM (SELECT unnest({_TOK_SQL}) AS tok FROM documents)
      GROUP BY 1),
    wp AS MATERIALIZED (
      SELECT word, unnest(generate_series(1, length(word))) AS pos
      FROM types),
    lmatch AS MATERIALIZED (
      SELECT word, pos, arg_max(piece, length(body)) AS piece,
             MAX(length(body))::BIGINT AS blen
      FROM wp JOIN vocab v
        ON v.cont = (wp.pos > 1)
       AND length(v.body) <= length(wp.word) - wp.pos + 1
       AND substr(wp.word, wp.pos, length(v.body)) = v.body
      GROUP BY 1, 2),
    walk AS (
      SELECT word, 1::BIGINT AS pos, 0::BIGINT AS np, false AS unk
      FROM types
      UNION ALL
      SELECT w.word,
             CASE WHEN m.blen IS NULL THEN length(w.word) + 1
                  ELSE w.pos + m.blen END,
             CASE WHEN m.blen IS NULL THEN 1 ELSE w.np + 1 END,
             m.blen IS NULL
      FROM walk w LEFT JOIN lmatch m
        ON w.word = m.word AND w.pos = m.pos
      WHERE w.pos <= length(w.word) AND NOT w.unk),
    enc AS MATERIALIZED (
      SELECT word, np AS n_pieces FROM walk
      WHERE pos = length(word) + 1 OR unk),
    docw AS (SELECT doc_id, unnest({_TOK_SQL}) AS word FROM documents),
    perdoc AS (
      SELECT doc_id, SUM(n_pieces)::BIGINT AS n_pieces
      FROM docw JOIN enc USING (word) GROUP BY 1)
    SELECT d.doc_id, COALESCE(p.n_pieces, 0)::BIGINT AS n_pieces
    FROM documents d LEFT JOIN perdoc p USING (doc_id)"""


def eval_oracle_sql(by: str, n_merges: int, min_count: int = 2,
                    max_word_types: int = 1 << 16) -> str:
    """DuckDB replay of ``tokeval.tokenizer_eval(documents,
    wordpiece_encode(documents, trained merges), 'doc_id', 'text',
    'pieces', by=...)`` — the per-slice report over the TRAINED
    WordPiece encode.  Piece-level sums are derived exactly from the
    walk, never by materializing piece arrays: for a non-[UNK] word,
    piece bodies re-glue to the word, so Σ length(piece) =
    length(word) + 2·(n_pieces − 1) (each continuation piece adds its
    '##'), and a length-1 piece can only be a plain single char in
    the first slot (continuations are ≥ 3 chars), so the singleton
    count per word is [first match length = 1]; an [UNK] word is one
    5-char piece with no singletons."""
    vocab_merges = " UNION ALL ".join(
        f"SELECT prod AS piece FROM best{r}"
        for r in range(1, n_merges + 1))
    return f"""WITH RECURSIVE {_train_ctes(n_merges, min_count,
                                           max_word_types)},
    vocab AS MATERIALIZED (
      SELECT DISTINCT piece,
             starts_with(piece, '##') AS cont,
             CASE WHEN starts_with(piece, '##')
                  THEN piece[3:] ELSE piece END AS body
      FROM (SELECT unnest({_WP_SYMBOLS_SQL}) AS piece FROM wt
            UNION ALL {vocab_merges})),
    types AS MATERIALIZED (
      SELECT tok AS word, COUNT(*)::BIGINT AS n
      FROM (SELECT unnest({_TOK_SQL}) AS tok FROM documents)
      GROUP BY 1),
    wp AS MATERIALIZED (
      SELECT word, unnest(generate_series(1, length(word))) AS pos
      FROM types),
    lmatch AS MATERIALIZED (
      SELECT word, pos, arg_max(piece, length(body)) AS piece,
             MAX(length(body))::BIGINT AS blen
      FROM wp JOIN vocab v
        ON v.cont = (wp.pos > 1)
       AND length(v.body) <= length(wp.word) - wp.pos + 1
       AND substr(wp.word, wp.pos, length(v.body)) = v.body
      GROUP BY 1, 2),
    walk AS (
      SELECT word, 1::BIGINT AS pos, 0::BIGINT AS np, false AS unk
      FROM types
      UNION ALL
      SELECT w.word,
             CASE WHEN m.blen IS NULL THEN length(w.word) + 1
                  ELSE w.pos + m.blen END,
             CASE WHEN m.blen IS NULL THEN 1 ELSE w.np + 1 END,
             m.blen IS NULL
      FROM walk w LEFT JOIN lmatch m
        ON w.word = m.word AND w.pos = m.pos
      WHERE w.pos <= length(w.word) AND NOT w.unk),
    segstat AS MATERIALIZED (
      SELECT w.word, w.np,
             CASE WHEN w.unk THEN 5
                  ELSE length(w.word) + 2 * (w.np - 1) END AS nc,
             CASE WHEN w.unk THEN 0
                  WHEN (SELECT m1.blen FROM lmatch m1
                        WHERE m1.word = w.word AND m1.pos = 1) = 1
                  THEN 1 ELSE 0 END AS s1
      FROM walk w WHERE w.pos = length(w.word) + 1 OR w.unk),
    docw AS (SELECT doc_id, unnest({_TOK_SQL}) AS word FROM documents),
    perdoc AS (
      SELECT doc_id, COUNT(*)::BIGINT AS w,
             SUM(np)::BIGINT AS t, SUM(nc)::BIGINT AS tc,
             SUM(s1)::BIGINT AS s1
      FROM docw JOIN segstat USING (word) GROUP BY 1),
    j AS (
      SELECT d.{by} AS slice,
             COALESCE(p.w, 0) AS w, COALESCE(p.t, 0) AS t,
             COALESCE(p.tc, 0) AS tc, COALESCE(p.s1, 0) AS s1
      FROM documents d LEFT JOIN perdoc p USING (doc_id)),
    agg AS (
      SELECT slice, COUNT(*)::BIGINT AS n_docs,
             SUM(w)::BIGINT AS n_words, SUM(t)::BIGINT AS n_tokens,
             SUM(tc)::BIGINT AS n_chars, SUM(s1)::BIGINT AS singles
      FROM j GROUP BY 1)
    SELECT slice, n_docs, n_words, n_tokens, n_chars,
           (CASE WHEN n_words > 0 THEN 1000 * n_tokens // n_words
                 ELSE 0 END)::BIGINT AS fertility_milli,
           (CASE WHEN n_tokens > 0 THEN 1000 * n_chars // n_tokens
                 ELSE 0 END)::BIGINT AS chars_per_token_milli,
           (CASE WHEN n_tokens > 0 THEN 1000 * singles // n_tokens
                 ELSE 0 END)::BIGINT AS singleton_ratio_milli
    FROM agg"""
