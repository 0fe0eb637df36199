"""BPE tokenizer training/encoding (functions/bpe.py).

Model-equivalence strategy: an INDEPENDENT in-test BPE (Counter-based
pair statistics, regex-free list rewrite written differently from the
module's loop) pins `learn_bpe`; the generated DuckDB oracle SQL is
pinned against the engine on a synthetic corpus (the sf0.01 gate
re-checks it on real data).
"""

from collections import Counter

import duckdb
import pandas as pd
import pytest

from kafkadirect_spark.functions import bpe


# --- independent reference implementation (deliberately different
# structure from bpe._py_learn: Counter stats, index-scan rewrite) ---

def _ref_pairs(segs, counts):
    pc = Counter()
    for w, seg in segs.items():
        for a, b in zip(seg, seg[1:]):
            pc[(a, b)] += counts[w]
    return pc


def _ref_rewrite(seg, pair):
    out, i = [], 0
    while i < len(seg):
        if tuple(seg[i:i + 2]) == pair:
            out.append(pair[0] + pair[1])
            i += 2
        else:
            out.append(seg[i])
            i += 1
    return out


def _ref_bpe(word_counts: dict, n_merges: int):
    segs = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = _ref_pairs(segs, word_counts)
        if not pc:
            break
        best = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        (a, b), c = best
        merges.append((rank, a, b, c))
        segs = {w: _ref_rewrite(s, (a, b)) for w, s in segs.items()}
    return merges


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_learn_matches_independent_model(spark):
    texts = ["the cat sat on the mat", "the bat and the cat",
             "mats and bats and cats", "on and on and on the mat sat"]
    df = _docs(spark, texts)
    words = Counter(w for t in texts for w in t.split())
    expect = _ref_bpe(dict(words), 8)
    got = [tuple(r) for r in
           bpe.learn_bpe(df, "text", 8, min_count=1).collect()]
    assert got == expect


def test_overlapping_pairs_count_per_position(spark):
    # 'aaaa' has THREE adjacent (a,a) positions per occurrence —
    # Sennrich's statistics count positions, application merges
    # left-to-right non-overlapping: aaaa -> (aa, aa)
    df = _docs(spark, ["aaaa aaaa"])
    out = bpe.learn_bpe(df, "text", 2, min_count=1).collect()
    assert (out[0].lhs, out[0].rhs, out[0].pair_count) == ("a", "a", 6)
    # round 2 operates on (aa, aa): one adjacent pair per word
    assert (out[1].lhs, out[1].rhs, out[1].pair_count) == ("aa", "aa", 2)


def test_tie_breaks_lexicographic(spark):
    # 'zx' and 'ab' each appear twice -> pair counts tie at 2;
    # ('a','b') < ('z','x') lexicographically
    df = _docs(spark, ["zx ab", "ab zx"])
    out = bpe.learn_bpe(df, "text", 1, min_count=1).collect()
    assert (out[0].lhs, out[0].rhs) == ("a", "b")


def test_early_exhaustion_emits_fewer(spark):
    df = _docs(spark, ["ab ab ab"])
    out = bpe.learn_bpe(df, "text", 5, min_count=1).collect()
    assert [(r.lhs, r.rhs) for r in out] == [("a", "b")]


def test_encode_matches_training_segmentation(spark):
    texts = ["hugging tugging mugging", "hug tug mug jug",
             "jugging and lugging"]
    df = _docs(spark, texts)
    merges = bpe.learn_bpe(df, "text", 6, min_count=1)
    enc = bpe.bpe_encode(df, "doc_id", "text", merges)
    rows = {r.doc_id: (list(r.bpe), r.n_bpe) for r in enc.collect()}
    # rebuild expected segmentations with the reference rewriter
    pairs = [(r.lhs, r.rhs) for r in
             sorted(merges.collect(), key=lambda r: r.merge_rank)]

    def ref_enc(word):
        seg = list(word)
        for p in pairs:
            seg = _ref_rewrite(seg, p)
        return seg

    for i, t in enumerate(texts):
        expect = [s for w in t.split() for s in ref_enc(w)]
        assert rows[i] == (expect, len(expect))
    # concatenating the segments reproduces the tokens exactly
    assert "".join(rows[0][0]) == "huggingtuggingmugging"


def test_encode_covers_oov_and_null(spark):
    train = _docs(spark, ["abc abc abd abd"])
    merges = bpe.learn_bpe(train, "text", 2, min_count=2)
    test_df = spark.createDataFrame(
        [(1, "abz"), (2, None), (3, "  ;; ")],
        "doc_id long, text string")
    rows = {r.doc_id: (list(r.bpe), r.n_bpe)
            for r in bpe.bpe_encode(test_df, "doc_id", "text",
                                    merges).collect()}
    # 'abz' never seen in training, but the learned ('a','b') merge
    # still applies at inference
    assert rows[1][0][0] == "ab"
    assert rows[2] == ([], 0)
    assert rows[3] == ([], 0)


def test_min_count_excludes_from_training_not_encoding(spark):
    # 'qq' appears once -> below min_count=2, so its pairs never vote;
    # but encode still processes it
    df = _docs(spark, ["ab ab ab qq"])
    merges = bpe.learn_bpe(df, "text", 1, min_count=2)
    out = merges.collect()
    assert (out[0].lhs, out[0].rhs) == ("a", "b")
    enc = {r.doc_id: list(r.bpe)
           for r in bpe.bpe_encode(df, "doc_id", "text",
                                   merges).collect()}
    assert enc[0] == ["ab", "ab", "ab", "q", "q"]


def test_word_type_cap_is_deterministic(spark):
    # cap=2 keeps the 2 most frequent types, ties broken by word ASC
    df = _docs(spark, ["bb bb cc cc aa"])
    wt = bpe.word_type_counts(df, "text", min_count=1, max_word_types=2)
    assert [(r.word, r.n) for r in wt.collect()] == [("bb", 2), ("cc", 2)]


def test_guards(spark):
    from kafkadirect_spark.functions import wordpiece

    df = _docs(spark, ["ab"])
    with pytest.raises(ValueError):
        bpe.learn_bpe(df, "text", 0)
    with pytest.raises(ValueError):
        bpe.word_type_counts(df, "text", min_count=0)
    # one merge-learning path: no regime knobs, and a type table past
    # the driver cap is refused by both trainers
    for learn in (bpe.learn_bpe, wordpiece.learn_wordpiece):
        with pytest.raises(TypeError):
            learn(df, "text", 1, mode="driver")
        with pytest.raises(TypeError):
            learn(df, "text", 1, checkpoint_dir="/nonexistent")
        with pytest.raises(ValueError, match="MAX_DRIVER_TYPES") as e:
            learn(df, "text", 1, min_count=1,
                  max_word_types=bpe.MAX_DRIVER_TYPES + 1)
        assert "mode" not in str(e.value)


def test_oracle_sql_matches_engine_on_synthetic(spark):
    texts = ["streaming streams stream streamer",
             "dream dreams dreaming dreamer",
             "beam beams beaming screaming"]
    df = _docs(spark, texts)
    drv = [tuple(r) for r in
           bpe.learn_bpe(df, "text", 5, min_count=1).collect()]
    con = duckdb.connect()
    con.register("documents",
                 pd.DataFrame({"doc_id": range(len(texts)),
                               "text": texts}))
    assert con.sql(
        bpe.merges_oracle_sql(5, 1, 1 << 16)).fetchall() == drv
    enc = {r.doc_id: r.n_bpe
           for r in bpe.bpe_encode(df, "doc_id", "text",
                                   drv and [(a, b) for _, a, b, _ in drv]
                                   ).collect()}
    assert dict(con.sql(
        bpe.encode_lengths_oracle_sql(5, 1, 1 << 16)).fetchall()) == enc


# --- property tests -------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet="abc", min_size=1, max_size=6),
                min_size=1, max_size=12),
       st.integers(min_value=1, max_value=5))
def test_learn_bpe_matches_model_on_random_corpora(spark, words,
                                                   n_merges):
    """Randomized end-to-end pin of the driver regime against the
    independent reference learner (tie-heavy tiny alphabets are
    exactly where a tie-break bug would hide)."""
    df = spark.createDataFrame([(0, " ".join(words))],
                               "doc_id long, text string")
    from collections import Counter
    expect = _ref_bpe(dict(Counter(words)), n_merges)
    got = [tuple(r) for r in
           bpe.learn_bpe(df, "text", n_merges, min_count=1).collect()]
    assert got == expect


def test_bpe_vocab_chars_plus_merges(spark):
    df = _docs(spark, ["abab abab cd"])
    merges = bpe.learn_bpe(df, "text", 2, min_count=1)
    vocab = {(r.token, r.kind, r.rank) for r in
             bpe.bpe_vocab(df, "text", merges, min_count=1).collect()}
    chars = {t for t, k, _ in vocab if k == "char"}
    assert chars == {"a", "b", "c", "d"}
    got_merges = sorted((r, t) for t, k, r in vocab if k == "merge")
    # merge 1: (a,b) -> 'ab'; merge 2: (ab,ab) -> 'abab'
    assert got_merges == [(1, "ab"), (2, "abab")]


def test_bpe_chunk_slices_and_edges(spark):
    df = spark.createDataFrame(
        [(1, "aa bb cc dd ee"), (2, "aa"), (3, None), (4, ";;")],
        "doc_id long, text string")
    merges = bpe.learn_bpe(df, "text", 1, min_count=1)
    out = {(r.doc_id, r.chunk_idx): (r.n_tokens, list(r.bpe)) for r in
           bpe.bpe_chunk(df, "doc_id", "text", merges, budget=4)
           .collect()}
    # merge ('a','a') learned from 'aa' (count 2+...) — every word is
    # 2 chars, doc 1 encodes to [aa, bb?]... verify via bpe_encode
    enc = {r.doc_id: list(r.bpe) for r in
           bpe.bpe_encode(df, "doc_id", "text", merges).collect()}
    toks = enc[1]
    exp = {}
    for i in range(0, len(toks), 4):
        exp[(1, i // 4)] = (len(toks[i:i + 4]), toks[i:i + 4])
    exp[(2, 0)] = (len(enc[2]), enc[2])
    # docs 3 (null) and 4 (no tokens) emit ZERO chunks
    assert out == exp
    with pytest.raises(ValueError):
        bpe.bpe_chunk(df, "doc_id", "text", merges, budget=0)


def test_bpe_chunk_concat_reconstructs_encoding(spark):
    df = _docs(spark, ["the quick brown fox jumps over the lazy dog "
                       "the quick brown fox"])
    merges = bpe.learn_bpe(df, "text", 4, min_count=1)
    enc = {r.doc_id: list(r.bpe) for r in
           bpe.bpe_encode(df, "doc_id", "text", merges).collect()}
    chunks = sorted((r.chunk_idx, list(r.bpe)) for r in
                    bpe.bpe_chunk(df, "doc_id", "text", merges,
                                  budget=3).collect())
    glued = [t for _, arr in chunks for t in arr]
    assert glued == enc[0]
    assert all(len(arr) <= 3 for _, arr in chunks)


def test_bpe_encode_works_on_streams(spark, tmp_path):
    """bpe_encode is a stateless mapInPandas transform, so it applies
    unchanged to a Structured Streaming frame — the learned tokenizer
    runs over an unbounded ingest exactly as over the batch corpus
    (golden: streamed results == batch results)."""
    import os

    texts = ["lower lowest newer newest", "low new wide",
             "the widest of the wide"]
    batch_df = _docs(spark, texts)
    merges = bpe.learn_bpe(batch_df, "text", 4, min_count=1)
    expect = {r.doc_id: (list(r.bpe), r.n_bpe) for r in
              bpe.bpe_encode(batch_df, "doc_id", "text",
                             merges).collect()}

    src = os.path.join(str(tmp_path), "src")
    batch_df.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = bpe.bpe_encode(stream, "doc_id", "text", merges)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("bpe_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {r.doc_id: (list(r.bpe), r.n_bpe) for r in
               spark.sql("SELECT * FROM bpe_stream").collect()}
    finally:
        q.stop()
    assert got == expect
