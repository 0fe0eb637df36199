"""Tokenizer-consumer operators shared by all three tokenizer
families (``functions/bpe.py``, ``functions/wordpiece.py``,
``functions/unigram.py``): sliding-window context assembly and
tokenizer-quality evaluation.  Everything here operates on an ENCODE
frame — ``(id, tokens array<string>, n long)``, the common output of
``bpe_encode``, ``wordpiece_encode`` and ``unigram_encode``, which all
run the one stateless ``mapInPandas`` pass ``bpe._encode_words`` — so
it is tokenizer-agnostic by construction and applies unchanged to a
streaming encode (these operators add only row-local column
expressions or grouped aggregates).  The families' disjoint chunkers
``bpe_chunk`` and ``unigram_chunk`` are ``windowed_chunks`` with
stride = budget.

Reference analogue: none (SURVEY.md §2 — the reference has no
document model); beyond-parity training-data-pipeline machinery.

Scale ledger:

- ``windowed_chunks`` is PURELY row-local (a sequence-transform over
  each row's token array, exploded) — zero shuffles, amplification
  exactly ``ceil(max(n - budget, 0) / stride) + 1`` rows per doc, the
  number of windows a pretraining run actually consumes;
- ``tokenizer_eval`` is one join of the encode frame back onto the
  corpus slice column (both sides already materialized in any real
  pipeline) plus ONE map-side-combined grouped aggregate — per-slice
  output, never a data-sized result.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_chunks(enc: DataFrame, id_col: str, tokens_col: str,
                    budget: int, stride: int | None = None) -> DataFrame:
    """Sliding-window model-input assembly: split every encoded
    document into windows of ``budget`` tokens starting every
    ``stride`` tokens — the standard pretraining/eval context shape
    (overlapping windows when ``stride < budget``; ``stride ==
    budget``, the default, is the disjoint layout ``bpe_chunk`` and
    ``unigram_chunk`` emit).

    Window starts are ``0, stride, 2·stride, …`` while ``start <
    n`` and the FIRST window always emits (empty documents emit zero
    windows); trailing windows shorter than ``budget`` are kept —
    dropping partial tails is a caller policy (one extra filter), not
    an assembler decision.  Returns ``(id_col, chunk_idx, start,
    n_tokens, tokens)`` with ``chunk_idx = start / stride``.

    Row-local throughout: one sequence-transform + explode, no
    shuffle, no window function — at 100 TB the operator is pure map
    amplification bounded by the window count the training run needs
    anyway.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    stride = budget if stride is None else stride
    if stride < 1 or stride > budget:
        raise ValueError("stride must be in [1, budget] — a stride "
                         "above budget silently drops tokens")
    n = F.size(F.col(tokens_col))
    # number of windows: 1 + ceil(max(n - budget, 0) / stride); the
    # last window start is the smallest multiple of stride covering
    # the tail, so every token lands in >= 1 window
    n_win = (F.lit(1) + F.ceil(
        F.greatest(n - F.lit(budget), F.lit(0)) / F.lit(stride))
        .cast("int"))
    win = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.struct(
            i.cast("long").alias("idx"),
            (i * stride).cast("long").alias("start"),
            F.slice(F.col(tokens_col), i * stride + 1, budget)
            .alias("arr")))
    return (enc.filter(n > 0)
            .select(F.col(id_col), F.explode(win).alias("w"))
            .select(id_col,
                    F.col("w.idx").alias("chunk_idx"),
                    F.col("w.start").alias("start"),
                    F.size("w.arr").cast("long").alias("n_tokens"),
                    F.col("w.arr").alias("tokens")))


def _word_count(text_col: str) -> Column:
    from kafkadirect_spark.functions import text
    return F.size(text.tokens(text_col))


def tokenizer_eval(docs: DataFrame, enc: DataFrame, id_col: str,
                   text_col: str, tokens_col: str,
                   by: str | None = None) -> DataFrame:
    """Tokenizer-quality report per corpus slice (``by`` — a lang /
    source / domain column of ``docs``; None = one global row): the
    numbers a pipeline inspects before freezing a tokenizer.

    Per slice, all integer-exact (ratios as parts-per-thousand via
    truncating integer division, so the report replays bit-for-bit
    in any engine):

    - ``n_docs, n_words, n_tokens, n_chars`` — raw volumes
      (words under the shared ``[^a-z0-9]+`` surface);
    - ``fertility_milli`` — tokens per word ×1000 (the standard
      subword-fertility metric: 1000 = every word one piece; high
      fertility on a slice means the vocabulary underserves it);
    - ``chars_per_token_milli`` — compression ×1000 (how much text
      each piece carries);
    - ``singleton_ratio_milli`` — share of tokens that are
      single characters ×1000 (char-fallback rate: the practical
      OOV measure for trainers whose single chars always survive —
      both families here).

    One equi-join of the encode frame onto ``(id, slice, counts)``
    and ONE map-side-combined aggregate; token-array inspection
    (char sums, singleton counts) is row-local codegen over the
    array, so nothing data-sized shuffles beyond the join itself.
    """
    slice_col = F.col(by) if by is not None else F.lit("ALL")
    left = docs.select(
        F.col(id_col), slice_col.alias("slice"),
        _word_count(text_col).alias("__w"))
    right = enc.select(
        F.col(id_col),
        F.size(tokens_col).cast("long").alias("__t"),
        F.aggregate(F.col(tokens_col), F.lit(0).cast("long"),
                    lambda a, x: a + F.length(x)).alias("__tc"),
        F.size(F.filter(F.col(tokens_col),
                        lambda x: F.length(x) == 1))
        .cast("long").alias("__s1"))
    j = left.join(right, id_col)
    agg = j.groupBy("slice").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__w").cast("long").alias("n_words"),
        F.sum("__t").cast("long").alias("n_tokens"),
        F.sum("__tc").cast("long").alias("n_chars"),
        F.sum("__s1").cast("long").alias("__singles"))
    def milli(num: str, den: str) -> Column:
        # truncating integer ratio ×1000; empty denominators report 0
        # rather than NULL/crash (an all-empty slice is data, not an
        # error)
        return F.expr(
            f"CAST(CASE WHEN {den} > 0 "
            f"THEN 1000 * {num} DIV {den} ELSE 0 END AS LONG)")

    return agg.select(
        "slice", "n_docs", "n_words", "n_tokens", "n_chars",
        milli("n_tokens", "n_words").alias("fertility_milli"),
        milli("n_chars", "n_tokens").alias("chars_per_token_milli"),
        milli("__singles", "n_tokens").alias("singleton_ratio_milli"))


def windows_oracle_sql(budget: int, stride: int,
                       table: str = "documents") -> str:
    """DuckDB replay of ``windowed_chunks`` over the plain token
    surface of ``table`` (the registration shape: tokenize → window →
    md5-over-CSV), for the driver gate.  1-based inclusive slices;
    same window-count formula; empty docs emit nothing."""
    if stride < 1 or stride > budget:
        raise ValueError("stride must be in [1, budget]")
    tok = ("list_filter(regexp_split_to_array(lower(text), "
           "'[^a-z0-9]+'), x -> x <> '')")
    b, s = budget, stride
    return f"""
    WITH tok AS (SELECT doc_id, {tok} AS w FROM {table}),
    wins AS (
      SELECT doc_id,
             (k - 1)::BIGINT AS chunk_idx,
             ((k - 1) * {s})::BIGINT AS start,
             w[((k - 1) * {s} + 1)::INT:((k - 1) * {s} + {b})::INT]
               AS arr
      FROM (SELECT doc_id, w,
                   unnest(generate_series(
                     1, 1 + CAST(ceil(greatest(len(w) - {b}, 0)
                                      / {s}.0) AS BIGINT))) AS k
            FROM tok WHERE len(w) > 0))
    SELECT doc_id, chunk_idx, start,
           len(arr)::BIGINT AS n_tokens,
           md5(array_to_string(arr, ',')) AS tokens_md5
    FROM wins
    """


def unigram_eval_oracle_sql(by: str, vocab_size: int, rounds: int = 2,
                            max_piece_len: int = 8,
                            min_count: int = 2,
                            max_word_types: int = 1 << 16,
                            seed_factor: int = 4) -> str:
    """DuckDB replay of ``tokenizer_eval(documents,
    unigram_encode(documents, trained model), 'doc_id', 'text',
    'pieces', by=...)`` — the per-slice report over the TRAINED
    unigram tokenizer, for the driver gate.  Reuses the unigram
    module's Viterbi-CTE machinery (training + corpus-wide encode);
    the metrics reduce over the per-word-TYPE segmentations joined
    back to doc token occurrences, so the replay never re-segments
    per occurrence."""
    from kafkadirect_spark.functions import unigram as _ug

    ctes = _ug._train_ctes(vocab_size, rounds, max_piece_len,
                           min_count, max_word_types, seed_factor)
    vit = _ug._viterbi_pass("u0", "fmodel", "dpe", "sege")
    tok = ("list_filter(regexp_split_to_array(lower(text), "
           "'[^a-z0-9]+'), x -> x <> '')")
    return f"""WITH RECURSIVE {ctes},
    u0 AS MATERIALIZED (
      SELECT tok AS word, COUNT(*)::BIGINT AS n
      FROM (SELECT unnest({tok}) AS tok FROM documents)
      GROUP BY 1),
    {vit.lstrip().lstrip(",")},
    segstat AS (
      SELECT word, len(segs)::BIGINT AS np,
             length(word)::BIGINT AS nc,
             len(list_filter(segs, p -> length(p) = 1))::BIGINT AS s1
      FROM sege),
    docw AS (
      SELECT doc_id, unnest({tok}) AS word FROM documents),
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
