"""WordPiece goldens (functions/wordpiece.py): likelihood-scored
merges (exact scaled-integer keys), ## continuation symbols, greedy
longest-match encode with whole-word [UNK], and the DuckDB
train+encode replay."""

import pytest

from kafkadirect_spark.functions import wordpiece as wp
from kafkadirect_spark.functions.bpe import _py_apply


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


# ---------------------------------------------------------------------------
# python-model pieces
# ---------------------------------------------------------------------------


def test_symbols_and_product():
    assert wp._wp_symbols("abc") == ("a", "##b", "##c")
    assert wp._merge_product("a", "##b") == "ab"
    assert wp._merge_product("##b", "##c") == "##bc"
    assert _py_apply(("a", "##b", "##c"), "a", "##b",
                     wp._merge_product("a", "##b")) == ("ab", "##c")
    # left-to-right non-overlapping, like BPE
    assert _py_apply(("##a", "##a", "##a"), "##a", "##a",
                     wp._merge_product("##a", "##a")) == ("##aa", "##a")


def test_scored_argmax_prefers_likelihood_over_raw_count():
    """'ab' appears 5x; 'xy' 4x — but x,y occur ONLY together while
    a,b also occur apart, so score(x,##y) > score(a,##b): WordPiece
    must pick the exclusive pair where BPE would pick the frequent
    one."""
    types = [("ab", 5), ("xy", 4), ("a", 6), ("b", 6)]
    merges = wp._py_learn(types, 1)
    assert (merges[0][1], merges[0][2]) == ("x", "##y")
    # and the raw-count argmax really would differ
    from kafkadirect_spark.functions import bpe
    bmerges = bpe._py_learn(types, 1)
    assert (bmerges[0][1], bmerges[0][2]) == ("a", "##b") or \
        (bmerges[0][1], bmerges[0][2]) == ("a", "b")


def test_encode_longest_match_and_unk():
    types = [("unaffable", 1), ("un", 1), ("affable", 1)]
    merges = wp._py_learn(types, 8)
    vocab = wp._py_vocab(types, merges)
    # longest-match consumes the largest known prefix at each step
    out = wp._py_encode_word("unaffable", vocab)
    assert "".join(p[2:] if p.startswith("##") else p
                   for p in out) == "unaffable"
    # a char never seen in training makes the whole word [UNK]
    assert wp._py_encode_word("zzq", vocab) == (wp.UNK,)


# ---------------------------------------------------------------------------
# engine
# ---------------------------------------------------------------------------


def test_encode_matches_python_model(spark):
    texts = ["the quick brown fox jumps over the lazy dog",
             "the quick brown cat naps under the lazy fox",
             "Qu1ck runs; the fox! THE FOX."]
    df = _docs(spark, texts)
    merges = wp.learn_wordpiece(df, "text", 8, min_count=1)
    enc = {r.doc_id: (tuple(r.pieces), r.n_pieces)
           for r in wp.wordpiece_encode(df, "doc_id", "text", merges,
                                        min_count=1).collect()}
    # python replay
    import re

    from kafkadirect_spark.functions.bpe import word_type_counts
    wt = word_type_counts(df, "text", 1, 1 << 16)
    types = [(r["word"], int(r["n"])) for r in wt.collect()]
    mrows = [tuple(r) for r in merges.collect()]
    vocab = wp._py_vocab(types, mrows)
    for i, t in enumerate(texts):
        want = []
        for w in re.split("[^a-z0-9]+", t.lower()):
            if w:
                want.extend(wp._py_encode_word(w, vocab))
        assert enc[i] == (tuple(want), len(want)), (i, t)


def test_encode_refuses_over_cap_type_table(spark):
    """The encode collects its type table through the same
    MAX_DRIVER_TYPES guard as training."""
    from kafkadirect_spark.functions.bpe import MAX_DRIVER_TYPES
    with pytest.raises(ValueError, match="MAX_DRIVER_TYPES"):
        wp.wordpiece_encode(_docs(spark, ["a b"]), "doc_id", "text", [],
                            min_count=1,
                            max_word_types=MAX_DRIVER_TYPES + 1)


def test_tokeval_contract(spark):
    """The encode frame satisfies the shared tokenizer-consumer
    contract: windowed_chunks and tokenizer_eval run unchanged."""
    from kafkadirect_spark.functions import tokeval

    df = _docs(spark, ["aa bb cc dd ee ff gg hh", "aa bb aa bb"])
    merges = wp.learn_wordpiece(df, "text", 3, min_count=1)
    enc = wp.wordpiece_encode(df, "doc_id", "text", merges, min_count=1)
    chunks = tokeval.windowed_chunks(enc, "doc_id", "pieces",
                                     budget=4, stride=2)
    assert chunks.count() > 0
    report = tokeval.tokenizer_eval(df, enc, "doc_id", "text",
                                    "pieces").collect()
    assert len(report) == 1 and report[0].n_docs == 2


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_PARAMS = dict(n_merges=10, min_count=2, max_word_types=4096)


def test_merges_oracle_matches_engine(spark):
    import duckdb

    from kafkadirect_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    eng = sorted(tuple(r) for r in wp.learn_wordpiece(
        docs, "text", **_PARAMS).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    got = sorted(con.sql(wp.merges_oracle_sql(**_PARAMS)).fetchall())
    assert got == eng and len(eng) == _PARAMS["n_merges"]


def test_encode_lengths_oracle_matches_engine(spark):
    import duckdb

    from kafkadirect_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    merges = wp.learn_wordpiece(docs, "text", **_PARAMS)
    eng = sorted(
        (r.doc_id, r.n_pieces)
        for r in wp.wordpiece_encode(docs, "doc_id", "text", merges,
                                     min_count=_PARAMS["min_count"],
                                     max_word_types=_PARAMS[
                                         "max_word_types"]).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    got = sorted(con.sql(
        wp.encode_lengths_oracle_sql(**_PARAMS)).fetchall())
    assert got == eng and eng


def test_eval_oracle_matches_engine(spark):
    """tokenizer_eval over the TRAINED WordPiece encode == the DuckDB
    replay that derives piece sums from the walk (no piece arrays
    materialized) — third tokenizer family, same consumer contract."""
    import duckdb

    from kafkadirect_spark.functions import tokeval
    from kafkadirect_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    merges = wp.learn_wordpiece(docs, "text", **_PARAMS)
    enc = wp.wordpiece_encode(docs, "doc_id", "text", merges,
                              min_count=_PARAMS["min_count"],
                              max_word_types=_PARAMS["max_word_types"])
    eng = sorted(tuple(r) for r in tokeval.tokenizer_eval(
        docs, enc, "doc_id", "text", "pieces", by="lang").collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    got = sorted(con.sql(wp.eval_oracle_sql(by="lang",
                                            **_PARAMS)).fetchall())
    assert got == eng and eng


def test_wordpiece_encode_works_on_streams(spark, tmp_path):
    """wordpiece_encode is a stateless mapInPandas transform, so the
    trained tokenizer applies unchanged to a Structured Streaming
    ingest (streamed == batch) — the same contract as bpe_encode and
    unigram_encode; the vocabulary derives from the BATCH training
    frame passed via train_df."""
    import os

    texts = ["lower lowest newer newest", "low new lower newer",
             "the lowest of the low"]
    batch_df = _docs(spark, texts)
    merges = wp.learn_wordpiece(batch_df, "text", 5, min_count=1)
    expect = {r.doc_id: (list(r.pieces), r.n_pieces) for r in
              wp.wordpiece_encode(batch_df, "doc_id", "text", merges,
                                  min_count=1).collect()}

    src = os.path.join(str(tmp_path), "src")
    batch_df.repartition(2).write.parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    with pytest.raises(ValueError, match="train_df"):
        wp.wordpiece_encode(stream, "doc_id", "text", merges,
                            min_count=1)
    out = wp.wordpiece_encode(stream, "doc_id", "text", merges,
                              min_count=1, train_df=batch_df)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("wp_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {r.doc_id: (list(r.pieces), r.n_pieces) for r in
               spark.sql("SELECT * FROM wp_stream").collect()}
    finally:
        q.stop()
    assert got == expect


def test_wordpiece_vocab_frame(spark):
    df = _docs(spark, ["abc abc ab", "abc ab a"])
    merges = wp.learn_wordpiece(df, "text", 2, min_count=1)
    v = {(r.piece, r.kind) for r in
         wp.wordpiece_vocab(df, "text", merges, min_count=1).collect()}
    # base chars: 'a' plain (word start), '##b'/'##c' continuations
    assert ("a", "char") in v
    assert ("##b", "cont_char") in v and ("##c", "cont_char") in v
    # every merge product present with kind 'merge'
    prods = {p for p, kind in v if kind == "merge"}
    assert len(prods) == 2
    for p in prods:
        assert not p.startswith("###")  # products strip exactly one ##


def test_encode_properties_hypothesis():
    """Pure-python properties of greedy longest-match over any
    trained state: non-[UNK] pieces re-glue exactly to the word;
    [UNK] occurs iff some char is outside the vocabulary's observed
    set; first piece is plain, the rest continuations."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    words = st.lists(st.text(alphabet="abcde", min_size=1, max_size=8),
                     min_size=1, max_size=8)

    @settings(max_examples=200, deadline=None, derandomize=True)
    @given(words, st.text(alphabet="abcdef", min_size=1, max_size=10),
           st.integers(min_value=0, max_value=6))
    def prop(train_words, query, n_merges):
        types = [(w, 1) for w in sorted(set(train_words))]
        merges = wp._py_learn(types, n_merges) if n_merges else []
        vocab = wp._py_vocab(types, merges)
        out = wp._py_encode_word(query, vocab)
        seen_first = {w[0] for w in sorted(set(train_words))}
        seen_cont = {c for w in sorted(set(train_words)) for c in w[1:]}
        if out == (wp.UNK,):
            # some position had no match: at minimum the query uses a
            # char never observed in the right slot class
            assert (query[0] not in seen_first
                    or any(c not in seen_cont for c in query[1:]))
        else:
            glued = "".join(p[2:] if p.startswith("##") else p
                            for p in out)
            assert glued == query
            assert not out[0].startswith("##")
            assert all(p.startswith("##") for p in out[1:])

    prop()
