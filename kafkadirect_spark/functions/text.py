"""Text-analysis operators for training-data pipelines: tokenization,
n-gram shingles, portable content hashing, quality stats, language-ID
heuristic, document fingerprinting.

The reference engine has no scalar-function library (SURVEY.md §2.7:
users write Java lambdas); these are the beyond-parity operators a
100 TB text pipeline needs.  Every function is a pure Column
expression (JVM-side, codegen'd, no Python in the hot path), and each
has an exactly-equivalent ANSI-SQL formulation so DuckDB can oracle
the results — which pins the semantics across engines.

Portability contract: all content hashing goes through
``portable_hash`` = first 14 hex chars of md5 (56 bits, positive)
reduced mod 2^31−1, which both Spark (conv/substring/md5) and DuckDB
(('0x'||substr(md5,…))::BIGINT) compute identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31 − 1: products a*h stay under 2^62 (no int64
# overflow) for the MinHash permutations in dedup.py.
HASH_P = 2_147_483_647

# Small English stopword list used by the quality/lang-ID heuristics.
# Frozen: changing it changes results; oracles embed the same list.
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "from",
)

TOKEN_SPLIT = "[^a-z0-9]+"


def tokens(text: Column | str) -> Column:
    """Lowercased word tokens, empties removed (ArrayType(String)).
    SQL equivalent: list_filter(regexp_split_to_array(lower(t), …))."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT), lambda x: x != F.lit(""))


def portable_hash(c: Column) -> Column:
    """56-bit md5 prefix as a positive BIGINT mod 2^31−1 — identical in
    Spark and DuckDB (see module docstring)."""
    return (F.conv(F.substring(F.md5(c), 1, 14), 16, 10).cast("long") % HASH_P)


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a token array (ArrayType(String));
    empty array when fewer than ``n`` tokens.  The unit of MinHash /
    Jaccard near-dup detection (dedup.py).

    Built as a zip of n shifted slices folded with concat — NOT a
    ``transform`` whose lambda indexes ``toks`` per gram.  Expressions
    inside higher-order-function lambdas defeat whole-stage codegen's
    common-subexpression elimination, so the lambda form re-evaluated
    the (regex-tokenize) input once per gram PER ELEMENT — measured
    10× slower at sf0.1.  Slices sit at the top level of the
    projection, where CSE computes ``toks`` once per row."""
    if n < 1:
        raise ValueError("n must be >= 1")
    if n == 1:
        return toks
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(1, n):
        out = F.zip_with(out, F.slice(toks, 1 + j, m),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def char_shingles(text: Column | str, k: int = 5) -> Column:
    """Character k-gram shingles (for fingerprinting)."""
    c = F.col(text) if isinstance(text, str) else text
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - k + 1, F.lit(0)))
    return F.when(F.length(c) >= k,
                  F.transform(idx, lambda i: c.substr(i, F.lit(k)))) \
            .otherwise(F.array().cast("array<string>"))


def bigram_structs(col_name: str) -> Column:
    """``array<struct<w1,w2>>`` of ADJACENT token pairs from a
    materialized token-array column (pass the column NAME — the
    expression references it by name so codegen CSE computes the
    tokenization once; empty array under 2 tokens).  The single
    definition of the bigram surface: the LM scorer
    (curation.bigram_surprisal_scores) and the PMI miner
    (curation.collocations) both build on it."""
    return F.when(
        F.size(F.col(col_name)) >= 2,
        F.expr(
            "transform(sequence(2, size({t}), 1),"
            " i -> struct({t}[i-2] AS w1, {t}[i-1] AS w2))"
            .format(t=col_name)),
    ).otherwise(F.array())


def token_count(text: Column | str) -> Column:
    """Whitespace+punct token count — the cheap BPE-proxy 'how many
    tokens will the tokenizer emit' estimate."""
    return F.size(tokens(text))


def stopword_ratio(toks: Column) -> Column:
    """Fraction of tokens that are English stopwords (DOUBLE; NULL-safe
    0.0 for empty docs)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    return F.when(F.size(toks) > 0,
                  n_sw.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def lang_guess(toks: Column, threshold: float = 0.05) -> Column:
    """N-gram-free language-ID heuristic: docs whose stopword ratio
    clears ``threshold`` are tagged 'en', else 'unknown'.  (A real
    pipeline would use per-language character-n-gram profiles; the
    engine surface — a deterministic Column classifier — is the same.)"""
    return F.when(stopword_ratio(toks) >= threshold, F.lit("en")) \
            .otherwise(F.lit("unknown"))


BPE_PIECE_RE = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish token-count estimate: count pre-tokenizer pieces
    (letter runs / digit runs / punctuation runs, each with optional
    leading space) on the lowercased text — the standard 'how many
    tokens will the tokenizer emit, roughly' proxy.  The pattern is
    RE2-safe (no lookahead) so the SQL oracle computes it identically."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(BPE_PIECE_RE), 0))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of non-space characters that are punctuation (not
    alphanumeric) — a standard quality-scoring signal."""
    c = F.col(text) if isinstance(text, str) else text
    nonspace = F.length(F.regexp_replace(c, " ", ""))
    punct = F.length(F.regexp_replace(F.lower(c), "[a-z0-9 ]", ""))
    return F.when(nonspace > 0, punct.cast("double") / nonspace) \
            .otherwise(F.lit(0.0))


# PII patterns — RE2-safe (no lookaround, no backrefs) so Spark (Java
# regex) and DuckDB (RE2) match identically; order matters (SSN before
# phone so the more specific pattern wins its span).
PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
PII_PHONE = "[0-9]{3}[- ][0-9]{4}"
PII_PATTERNS = ((PII_SSN, "<SSN>"), (PII_EMAIL, "<EMAIL>"),
                (PII_PHONE, "<PHONE>"))


def redact_pii(text: Column | str) -> Column:
    """Text with email / SSN / phone spans replaced by typed mask
    tokens — the scrubbing stage of a training-data pipeline.  Pure
    regexp_replace chain (codegen'd, no shuffle)."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, mask in PII_PATTERNS:
        c = F.regexp_replace(c, pat, mask)
    return c


def pii_count(text: Column | str) -> Column:
    """Number of PII spans in the original text (emails + SSNs +
    phones), for audit/reporting next to ``redact_pii``."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.lit(0)
    for pat, _ in PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(c, F.lit(pat), 0))
    return n.cast("long")


def fingerprint(text: Column | str, k: int = 5) -> Column:
    """Document fingerprint: min portable hash over character k-grams
    (the 1-fingerprint degenerate case of winnowing).  Equal
    fingerprints ⇒ near-identical prefix content; used as a cheap
    pre-cluster key before exact comparison."""
    grams = char_shingles(text, k)
    return F.array_min(F.transform(grams, portable_hash))


def repetition_ratio(toks: Column, n: int = 2) -> Column:
    """Within-document repetition: fraction of word ``n``-grams that
    are duplicates of an earlier one (0.0 = no repetition).  The
    Gopher-style quality signal for templated/looping text — high
    values mean the doc repeats itself.  Pure array expression."""
    grams = shingles(toks, n)
    return F.when(
        F.size(grams) > 0,
        1.0 - F.size(F.array_distinct(grams)).cast("double") / F.size(grams),
    ).otherwise(F.lit(0.0))


def winnow(text: Column | str, k: int = 5, w: int = 4) -> Column:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    the distinct minima of every ``w``-window of character-``k``-gram
    hashes (ArrayType(Long); empty for docs shorter than k+w−1).

    The guarantee: any shared substring of length ≥ k+w−1 between two
    docs yields at least one shared fingerprint — the plagiarism /
    partial-overlap detector exact dedup misses.

    PERFORMANCE: this single-Column form re-evaluates the md5 chain
    ``hs`` INSIDE the window lambda — codegen CSE does not reach into
    higher-order-function lambdas, so each of the n windows re-hashes
    all n grams: O(n²) md5s per row (measured 122× slower than the
    staged form at sf0.01).  It exists for expression contexts that
    can't stage (a single withColumn); EVERY hot path should use
    ``winnow_fps`` below, which materializes ``hs`` as a projection
    column first."""
    hs = F.transform(char_shingles(text, k), portable_hash)
    return _winnow_over(hs, w)


def _winnow_over(hs: Column, w: int) -> Column:
    """Window-minima fingerprints over an ALREADY-MATERIALIZED gram-
    hash array column (pass an attribute, not an expression, or every
    window re-evaluates it — see winnow's docstring)."""
    n_win = F.size(hs) - w + 1
    idx = F.sequence(F.lit(1), F.greatest(n_win, F.lit(0)))
    return F.when(
        n_win >= 1,
        F.array_distinct(F.transform(idx, lambda i: F.array_min(F.slice(hs, i, w)))),
    ).otherwise(F.array().cast("array<long>"))


def winnow_fps(df, text_col: str, id_col: str, k: int = 5,
               w: int = 4):
    """``(id_col, fp)`` rows of winnowing fingerprints — the staged,
    hot-path form of ``winnow``: the gram-hash array is materialized
    as a projection column, so each gram is hashed exactly once (O(n)
    md5s per row vs the single-expression form's O(n²); 122× at
    sf0.01).  Still zero shuffles — narrow projections + one explode.

    Guide §4.1 ("prefer built-ins over per-element lambdas"):
    the window minima come from a SPARSE-TABLE DOUBLING instead of
    the per-window interpreted ``array_min(slice(hs, i, w))`` fold —
    ⌈log₂ w⌉(+1) ``zip_with(m, shift_s(m), least)`` passes, each one
    O(n) lambda evaluations with O(1) work apiece, against the old
    n windows × O(w) slice-allocate-scan apiece.  Each level is
    staged as its own projection column (an expression referenced
    twice per level would otherwise be re-evaluated — the same CSE
    rule that staged ``__hs``).  ``zip_with`` pads the shifted copy
    with nulls at the tail and ``least`` skips nulls, so every level
    keeps the original length with exact pairwise minima; entry i of
    the final level is min over [i, i+w−1] — identical, element for
    element, to the old window fold (parity-pinned in
    tests/test_llm_ops.py)."""
    hs = F.transform(char_shingles(text_col, k), portable_hash)
    staged = df.select(F.col(id_col), hs.alias("__m"))

    def shifted_min(shift: int) -> Column:
        m = F.col("__m")
        return F.zip_with(
            m,
            F.slice(m, shift + 1,
                    F.greatest(F.size(m) - shift, F.lit(0))),
            lambda x, y: F.least(x, y))

    # m := pairwise min of m and m shifted by p, doubling p; one
    # final overlapping combine reaches non-power-of-two widths
    p = 1
    while 2 * p <= w:
        staged = staged.select(F.col(id_col),
                               shifted_min(p).alias("__m"))
        p *= 2
    if p < w:
        staged = staged.select(F.col(id_col),
                               shifted_min(w - p).alias("__m"))
    n_win = F.size(F.col("__m")) - F.lit(w - 1)
    fps = F.when(
        n_win >= 1,
        F.array_distinct(F.slice(F.col("__m"), 1, n_win))
    ).otherwise(F.array().cast("array<long>"))
    return staged.select(F.col(id_col), F.explode(fps).alias("fp"))


# Normalization rules — RE2-safe and identical in Java regex and RE2
# (simple character classes only, replace-all in both engines).  Kept
# as data so the DuckDB oracle replays the exact same chain.
NORMALIZE_RULES = (
    ("[‘’`´]", "'"),   # curly/grave/acute quotes
    ("[“”]", "\""),              # curly double quotes
    ("[–—]", "-"),               # en/em dashes
    ("[   ]", " "),         # nbsp & thin spaces
    ("[ \t\r\n]+", " "),                   # collapse whitespace runs
)


def normalize_text(text: Column | str) -> Column:
    """Canonical text form for exact-dedup and hashing: lowercase,
    typographic quotes/dashes straightened, unicode spaces mapped to
    ASCII space, whitespace runs collapsed, ends trimmed.  The
    standard pre-pass before content-hash dedup — raw exact dedup
    misses the case/whitespace/typography variants a crawl is full of.
    Pure codegen regexp chain (no shuffle); rules are RE2-safe so the
    SQL oracle replays them verbatim."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.lower(c)
    for pat, rep in NORMALIZE_RULES:
        c = F.regexp_replace(c, pat, rep)
    return F.trim(c)
