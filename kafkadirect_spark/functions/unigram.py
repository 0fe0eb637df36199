"""Unigram-LM tokenizer training and application (SentencePiece's
unigram model, Kudo 2018), Spark-first and integer-exact.

The second tokenizer family beside ``functions/bpe.py``: where BPE
greedily merges pairs bottom-up, the unigram model starts from a LARGE
seed piece inventory and iteratively (a) re-segments every word with
the current piece scores, (b) re-counts piece uses from those
segmentations, (c) prunes to the best ``vocab_size`` pieces — the
hard-EM (Viterbi-EM) variant of Kudo's algorithm, which keeps every
quantity an exact integer:

- a piece with use-count ``c`` in a table totalling ``N`` uses costs
  ``floor(log2 N) − floor(log2 c)`` bits (the repo's standard
  ``floor(log2 n) = n.bit_length() − 1`` integerization — no libm,
  deterministic across engines and runs);
- Viterbi picks the segmentation minimizing (total bits, piece count),
  remaining ties broken toward the SHORTEST last piece (the fixed
  j = i−1 … i−max_len scan keeps the first candidate found) — fully
  deterministic;
- pruning keeps the top ``vocab_size`` pieces by (count DESC, piece
  ASC) and ALWAYS retains every single character seen in training, so
  any training word stays segmentable.

Architecture mirrors the BPE trainer's scale split:

1. word-TYPE counting is the only corpus-scale pass
   (``bpe.word_type_counts`` — one map-side-combined exchange, capped
   by a distributed TakeOrdered);
2. seeding explodes each word type's substrings (≤ ``max_piece_len``
   per position) — a type-table-sized explode, never the corpus —
   and caps the inventory at ``seed_factor·vocab_size`` by the same
   deterministic TakeOrdered;
3. each EM round is ONE ``mapInPandas`` segmentation pass over the
   bounded type table (piece scores ship in the task closure — the
   inventory is ≤ seed rows by construction) plus one piece-keyed
   groupBy (inventory-sized exchange);
4. encoding (``unigram_encode``) is ``viterbi_segment`` run through
   the shared ``bpe._encode_words`` pass (one stateless
   ``mapInPandas`` with a per-task word memo), so it applies
   unchanged to streaming frames; ``unigram_chunk`` is
   ``tokeval.windowed_chunks`` over it with stride = budget.
   Characters unseen in training segment as single-char OOV pieces
   (cost = the inventory's max bits + 1 — strictly worse than any
   real piece) — encoding never fails.

Reference analogue: none (SURVEY.md §2 — the reference has no
document model); beyond-parity tokenizer machinery from the public
literature (Kudo 2018, arXiv:1804.10959).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkadirect_spark.functions import bpe
from kafkadirect_spark.functions.bpe import _TOK_SQL
from kafkadirect_spark.functions.tokeval import windowed_chunks

#: piece inventories are collected per round for the task closure —
#: bounded by seed_factor·vocab_size + |chars|, guarded here.
MAX_INVENTORY = 2_000_000


def _flog2(n: int) -> int:
    return n.bit_length() - 1


def viterbi_segment(word: str, bits: dict, max_len: int,
                    oov_bits: int) -> tuple:
    """Deterministic min-cost segmentation of ``word`` under integer
    piece costs: minimize (total bits, piece count); ties keep the
    SHORTEST last piece (the fixed scan order j = i−1 … i−max_len
    with a strict comparison keeps the first candidate found).
    Single characters absent from ``bits`` cost ``oov_bits`` — every
    word segments."""
    n = len(word)
    # dp[i] = (bits, n_pieces, split_j) for word[:i]
    dp = [None] * (n + 1)
    dp[0] = (0, 0, -1)
    for i in range(1, n + 1):
        best = None
        for j in range(i - 1, max(-1, i - max_len - 1), -1):
            if dp[j] is None:
                continue
            piece = word[j:i]
            c = bits.get(piece)
            if c is None:
                if i - j != 1:
                    continue
                c = oov_bits
            cand = (dp[j][0] + c, dp[j][1] + 1, j)
            if best is None or cand[:2] < best[:2]:
                best = cand
        dp[i] = best
    out = []
    i = n
    while i > 0:
        _, _, j = dp[i]
        out.append(word[j:i])
        i = j
    return tuple(reversed(out))


def _segment_counts(wt: DataFrame, bits: dict, max_len: int,
                    oov_bits: int) -> DataFrame:
    """(piece, cnt): piece use-counts over the TYPE table's Viterbi
    segmentations, each weighted by the word's corpus count — one
    mapInPandas pass (scores in the closure) + one inventory-sized
    groupBy."""
    def gen(batches):
        import pandas as pd
        for pdf in batches:
            pieces, counts = [], []
            for word, n in zip(pdf["word"], pdf["n"]):
                for p in viterbi_segment(str(word), bits, max_len,
                                         oov_bits):
                    pieces.append(p)
                    counts.append(int(n))
            yield pd.DataFrame({"piece": pieces,
                                "cnt": pd.Series(counts, dtype="int64")})

    return (wt.mapInPandas(gen, "piece string, cnt long")
            .groupBy("piece").agg(F.sum("cnt").alias("cnt")))


def learn_unigram(df: DataFrame, text_col: str, vocab_size: int,
                  rounds: int = 2, max_piece_len: int = 8,
                  min_count: int = 2, max_word_types: int = 1 << 16,
                  seed_factor: int = 4) -> DataFrame:
    """Train a unigram-LM piece inventory; returns ``(piece, cnt,
    bits)`` — at most ``vocab_size`` multi-char survivors plus every
    single training character, with integer use-counts and costs.

    See the module docstring for the algorithm and scale ledger; the
    inventory never exceeds ``seed_factor·vocab_size + |chars|``
    (guarded at ``MAX_INVENTORY``) and the corpus is scanned exactly
    once (word-type counting) — EM rounds run over the bounded type
    table."""
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if max_piece_len < 1:
        raise ValueError("max_piece_len must be >= 1")
    seed_cap = seed_factor * vocab_size
    if seed_cap > MAX_INVENTORY:
        raise ValueError(
            f"seed inventory {seed_cap} exceeds MAX_INVENTORY="
            f"{MAX_INVENTORY}: piece scores ship in task closures")

    wt = bpe.word_type_counts(df, text_col, min_count, max_word_types)
    wt = wt.persist()
    try:
        # seed: all substrings (len ≤ max_piece_len) of every word
        # type, weighted by the word's corpus count — type-table-sized
        # explode, deterministic TakeOrdered cap
        subs = F.expr(
            "flatten(transform(sequence(1, length(word)), "
            f"i -> transform(sequence(i, least(length(word), "
            f"i + {max_piece_len - 1})), "
            "j -> substring(word, i, j - i + 1))))")
        seeded = (wt.select(F.explode(subs).alias("piece"), "n")
                  .groupBy("piece").agg(F.sum("n").alias("cnt")))
        chars = (seeded.filter(F.length("piece") == 1)
                 .select("piece", "cnt"))
        top = (seeded.orderBy(F.col("cnt").desc(), F.col("piece").asc())
               .limit(seed_cap))
        inv = {r["piece"]: int(r["cnt"])
               for r in top.unionByName(chars).distinct().collect()}
        char_set = {p for p in inv if len(p) == 1}

        counts = inv
        for _ in range(rounds):
            total = sum(counts.values())
            tb = _flog2(total)
            bits = {p: tb - _flog2(c) for p, c in counts.items()}
            seg = _segment_counts(wt, bits, max_piece_len, tb + 1)
            new = {r["piece"]: int(r["cnt"])
                   for r in seg.collect()}  # ≤ inventory rows
            # prune: top vocab_size by (cnt DESC, piece ASC); single
            # chars always survive (with their latest counts, floor 1,
            # so costs stay defined even for currently-unused chars)
            ranked = sorted(new.items(), key=lambda kv: (-kv[1], kv[0]))
            kept = dict(ranked[:vocab_size])
            for ch in char_set:
                kept.setdefault(ch, max(new.get(ch, 0), 1))
            counts = kept
    finally:
        wt.unpersist()

    total = sum(counts.values())
    tb = _flog2(total)
    rows = [(p, c, tb - _flog2(c))
            for p, c in sorted(counts.items(),
                               key=lambda kv: (-kv[1], kv[0]))]
    return df.sparkSession.createDataFrame(
        rows, "piece string, cnt long, bits long")


def _model_from(pieces) -> tuple:
    """(bits dict, max_len, oov_bits) from a learn_unigram frame or a
    [(piece, cnt, bits)] list."""
    if isinstance(pieces, DataFrame):
        rows = [(r["piece"], int(r["bits"]))
                for r in pieces.select("piece", "bits").collect()]
    else:
        rows = [(p, int(b)) for p, _, b in pieces]
    bits = dict(rows)
    max_len = max((len(p) for p in bits), default=1)
    oov = max(bits.values(), default=0) + 1
    return bits, max_len, oov


def unigram_encode(df: DataFrame, id_col: str, text_col: str,
                   pieces) -> DataFrame:
    """Encode a text column with a trained piece inventory: Viterbi
    segmentation of every word through the shared ``bpe._encode_words``
    pass (inventory in the task closure).  Returns ``(id_col, pieces
    array<string>, n_pieces long)``."""
    bits, max_len, oov = _model_from(pieces)
    return bpe._encode_words(
        df, id_col, text_col,
        lambda word: viterbi_segment(word, bits, max_len, oov),
        "pieces", "n_pieces")


def unigram_chunk(df: DataFrame, id_col: str, text_col: str,
                  pieces, budget: int) -> DataFrame:
    """Split every document into ≤ ``budget``-piece chunks under the
    trained unigram tokenizer — same model-input assembly contract as
    ``bpe.bpe_chunk`` (one encode pass, then ``tokeval.windowed_chunks``
    with stride = budget; empty documents emit zero chunks).  Returns
    ``(id_col, chunk_idx, n_pieces, pieces)``."""
    if budget < 1:
        raise ValueError("budget must be >= 1")
    ch = windowed_chunks(unigram_encode(df, id_col, text_col, pieces),
                         id_col, "pieces", budget)
    return ch.select(id_col, "chunk_idx",
                     F.col("n_tokens").alias("n_pieces"),
                     F.col("tokens").alias("pieces"))

# ---------------------------------------------------------------------------
# DuckDB oracle generators — the hard-EM loop replayed in SQL.  The
# novel piece vs the BPE oracles is Viterbi-in-SQL: each word walks a
# recursive CTE one character position per step, CARRYING ITS WHOLE DP
# TABLE as a list of (bits, np, negj, segs) structs; candidate
# extensions for position i+1 are a list_transform over the legal
# split points j, piece costs come from a MAP shipped in a 1-row
# model CTE, and DuckDB's lexicographic struct list_sort picks the
# winner — (bits ASC, pieces ASC, j DESC), exactly viterbi_segment's
# strict-< scan order (negj is unique per candidate set, so the segs
# field never participates in a comparison).  Constant-size SQL per
# pass, independent of word length and inventory size.
# ---------------------------------------------------------------------------


def _h(j_plus_1: str, field: str) -> str:
    """DP-table lookup: hist[j+1].field (1-based list index)."""
    return (f"struct_extract(list_extract(hist, ({j_plus_1})::INT), "
            f"'{field}')")


_FLOG2 = "(length(format('{{:b}}', {n})) - 1)"  # exact integer log2


def _viterbi_pass(src: str, model: str, dp: str, seg: str) -> str:
    """One Viterbi segmentation pass over ``src`` (word, n) rows with
    the 1-row ``model`` (bm MAP, maxlen, oov): emits ``seg`` (word,
    n, segs VARCHAR[]).  Mirrors ``viterbi_segment`` bit-for-bit."""
    piece = "substr(word, (j + 1)::INT, (i + 1 - j)::INT)"
    hit = f"len(map_extract(m.bm, {piece})) > 0"
    cand_hit = (
        "{'bits': " + _h("j + 1", "bits")
        + f" + map_extract(m.bm, {piece})[1], "
        + "'np': " + _h("j + 1", "np") + " + 1, "
        + "'negj': -j, "
        + "'segs': list_append(" + _h("j + 1", "segs") + f", {piece})}}")
    cand_oov = (
        "{'bits': " + _h("j + 1", "bits") + " + m.oov, "
        + "'np': " + _h("j + 1", "np") + " + 1, "
        + "'negj': -j, "
        + "'segs': list_append(" + _h("j + 1", "segs")
        + ", substr(word, (j + 1)::INT, 1))}")
    return f"""
    {dp} AS (
      SELECT word, n, 0::BIGINT AS i,
             [{{'bits': 0::BIGINT, 'np': 0::BIGINT, 'negj': 0::BIGINT,
                'segs': []::VARCHAR[]}}] AS hist
      FROM {src}
      UNION ALL
      SELECT word, n, i + 1,
        list_append(hist, list_sort(list_filter(list_transform(
          generate_series(greatest(0::BIGINT, i + 1 - m.maxlen), i),
          j -> CASE WHEN {hit} THEN {cand_hit}
                    WHEN i = j THEN {cand_oov}
                    ELSE NULL END),
          x -> x IS NOT NULL))[1])
      FROM {dp}, {model} m WHERE i < length(word)),
    {seg} AS MATERIALIZED (
      SELECT word, n, {_h("length(word) + 1", "segs")} AS segs
      FROM {dp} WHERE i = length(word))"""


def _train_ctes(vocab_size: int, rounds: int, max_piece_len: int,
                min_count: int, max_word_types: int,
                seed_factor: int) -> str:
    """CTE chain ending in ``counts{rounds}`` — the trained
    inventory's (piece, cnt) — plus ``fmodel`` (the encode-time
    model: bm, maxlen = longest surviving piece, oov = max bits + 1,
    exactly ``_model_from``)."""
    mpl = max_piece_len
    parts = [f"""
    wt AS MATERIALIZED (
      SELECT tok AS word, COUNT(*)::BIGINT AS n
      FROM (SELECT unnest({_TOK_SQL}) AS tok FROM documents)
      GROUP BY 1 HAVING COUNT(*) >= {min_count}
      ORDER BY n DESC, word ASC LIMIT {max_word_types}),
    seeded AS MATERIALIZED (
      SELECT piece, SUM(n)::BIGINT AS cnt FROM (
        SELECT unnest(flatten(list_transform(
          generate_series(1, length(word)),
          i -> list_transform(
            generate_series(i, least(length(word)::BIGINT,
                                     i + {mpl - 1})),
            j -> substr(word, i::INT, (j - i + 1)::INT))))) AS piece,
          n
        FROM wt)
      GROUP BY 1),
    chars AS MATERIALIZED (
      SELECT piece, cnt FROM seeded WHERE length(piece) = 1),
    counts0 AS MATERIALIZED (
      -- DISTINCT over UNION ALL, not bare UNION: inside a WITH
      -- RECURSIVE block DuckDB parses "base UNION step" as a
      -- recursive-CTE definition and does NOT apply set dedup here
      SELECT DISTINCT piece, cnt FROM (
        SELECT piece, cnt FROM (
          SELECT piece, cnt FROM seeded
          ORDER BY cnt DESC, piece ASC
          LIMIT {seed_factor * vocab_size})
        UNION ALL
        SELECT piece, cnt FROM chars))"""]
    for r in range(1, rounds + 1):
        p = r - 1
        tb = _FLOG2.format(n=f"SUM(cnt)::BIGINT")
        cb = _FLOG2.format(n="c.cnt")
        parts.append(f"""
    tot{r} AS MATERIALIZED (
      SELECT ({tb})::BIGINT AS tb FROM counts{p}),
    model{r} AS MATERIALIZED (
      SELECT MAP(list(c.piece ORDER BY c.piece),
                 list((t.tb - {cb})::BIGINT ORDER BY c.piece)) AS bm,
             {max_piece_len}::BIGINT AS maxlen,
             (t.tb + 1)::BIGINT AS oov
      FROM counts{p} c CROSS JOIN tot{r} t GROUP BY t.tb)""")
        parts.append(_viterbi_pass("wt", f"model{r}", f"dp{r}",
                                   f"seg{r}"))
        parts.append(f"""
    segcnt{r} AS MATERIALIZED (
      SELECT piece, SUM(n)::BIGINT AS cnt
      FROM (SELECT unnest(segs) AS piece, n FROM seg{r}) GROUP BY 1),
    kept{r} AS MATERIALIZED (
      SELECT piece, cnt FROM segcnt{r}
      ORDER BY cnt DESC, piece ASC LIMIT {vocab_size}),
    counts{r} AS MATERIALIZED (
      SELECT piece, cnt FROM kept{r}
      UNION ALL
      SELECT c.piece, greatest(COALESCE(s.cnt, 0), 1)::BIGINT AS cnt
      FROM chars c LEFT JOIN segcnt{r} s ON c.piece = s.piece
      WHERE c.piece NOT IN (SELECT piece FROM kept{r}))""")
    tb = _FLOG2.format(n="SUM(cnt)::BIGINT")
    cb = _FLOG2.format(n="c.cnt")
    parts.append(f"""
    ftot AS MATERIALIZED (
      SELECT ({tb})::BIGINT AS tb FROM counts{rounds}),
    fbits AS MATERIALIZED (
      SELECT c.piece, c.cnt, (t.tb - {cb})::BIGINT AS bits
      FROM counts{rounds} c CROSS JOIN ftot t),
    fmodel AS MATERIALIZED (
      SELECT MAP(list(piece ORDER BY piece),
                 list(bits ORDER BY piece)) AS bm,
             MAX(length(piece))::BIGINT AS maxlen,
             (MAX(bits) + 1)::BIGINT AS oov
      FROM fbits)""")
    return ",".join(parts)


def vocab_oracle_sql(vocab_size: int, rounds: int = 2,
                     max_piece_len: int = 8, min_count: int = 2,
                     max_word_types: int = 1 << 16,
                     seed_factor: int = 4) -> str:
    """DuckDB replay of ``learn_unigram`` over the ``documents``
    view: the trained ``(piece, cnt, bits)`` inventory."""
    ctes = _train_ctes(vocab_size, rounds, max_piece_len, min_count,
                       max_word_types, seed_factor)
    return f"""WITH RECURSIVE {ctes}
    SELECT piece, cnt, bits FROM fbits"""


def chunk_oracle_sql(vocab_size: int, budget: int, rounds: int = 2,
                     max_piece_len: int = 8, min_count: int = 2,
                     max_word_types: int = 1 << 16,
                     seed_factor: int = 4) -> str:
    """DuckDB replay of train → ``unigram_chunk`` over ``documents``,
    chunks rendered as md5-over-CSV (the registered scalar surface):
    the trained model Viterbi-segments EVERY corpus word type (the
    u-chain — inference covers words the cap/min_count floor excluded
    from training, plus OOV single chars), word order is restored by
    positional unnest, per-doc piece sequences flatten in order, then
    1-based inclusive list slices of ``budget`` pieces."""
    ctes = _train_ctes(vocab_size, rounds, max_piece_len, min_count,
                       max_word_types, seed_factor)
    b = budget
    return f"""WITH RECURSIVE {ctes},
    u0 AS MATERIALIZED (
      SELECT tok AS word, COUNT(*)::BIGINT AS n
      FROM (SELECT unnest({_TOK_SQL}) AS tok FROM documents)
      GROUP BY 1),
    {_viterbi_pass("u0", "fmodel", "dpe", "sege").lstrip().lstrip(",")}
    ,
    tokq AS (
      SELECT doc_id, w[i] AS word, i AS ord
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
            FROM (SELECT doc_id, {_TOK_SQL} AS w FROM documents))),
    seqs AS (
      SELECT doc_id, flatten(list(segs ORDER BY ord)) AS toks
      FROM tokq JOIN sege USING (word) GROUP BY doc_id),
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             toks[(i * {b} + 1):((i + 1) * {b})] AS pieces
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(
                       0, CAST((len(toks) + {b} - 1) // {b} AS BIGINT)
                          - 1)) AS i
            FROM seqs WHERE len(toks) > 0))
    SELECT doc_id, chunk_idx, len(pieces)::BIGINT AS n_pieces,
           md5(array_to_string(pieces, ',')) AS pieces_md5
    FROM chunks"""
