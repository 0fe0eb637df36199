"""Tokenizer bake-off — train ALL THREE tokenizer families on the same
corpus, score them with the same integer-exact report, and assemble
the sliding-window contexts a pretraining run would consume:

  1. train  BPE (greedy bottom-up merges, functions/bpe.py),
     the unigram-LM (Kudo'18 hard-EM, functions/unigram.py) and
     WordPiece (likelihood-scored merges + ## continuations,
     functions/wordpiece.py) on the documents corpus — all three
     trainers scan the corpus ONCE (word-type counting) and iterate
     over the bounded type table;
  2. encode every document with each (stateless mapInPandas — the
     same code path scores an unbounded streaming ingest);
  3. compare with tokenizer_eval: per-lang fertility (tokens/word),
     compression (chars/token) and char-fallback rate, all in
     truncating parts-per-thousand so the report is engine-exact;
  4. assemble overlapping 32-token windows at stride 24 with
     windowed_chunks (row-local, zero shuffles) — the eval-style
     context layout disjoint chunking cannot express.

Every stage is a DataFrame transform; nothing data-sized is ever
collected.  Run:  python examples/tokenizer_bakeoff.py [sf_dir]
"""

import sys

sys.path.insert(0, ".")

from kafkadirect_spark import get_spark
from kafkadirect_spark.functions import bpe, tokeval, unigram, wordpiece
from kafkadirect_spark.sources.batch import load_table


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    spark = get_spark("tokenizer-bakeoff")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")

    # 1: train both families at a comparable inventory budget
    merges = bpe.learn_bpe(docs, "text", n_merges=48, min_count=2)
    pieces = unigram.learn_unigram(docs, "text", vocab_size=48,
                                   rounds=2, max_piece_len=8,
                                   min_count=2)
    wp_vocab = wordpiece.wordpiece_vocab(docs, "text", n_merges=48,
                                         min_count=2)

    # 2: encode (one stateless pass each; per-task word memo)
    enc_b = bpe.bpe_encode(docs, "doc_id", "text", merges)
    enc_u = unigram.unigram_encode(docs, "doc_id", "text", pieces)
    enc_w = wordpiece.wordpiece_encode(docs, "doc_id", "text", wp_vocab)

    # 3: the same integer-exact report for both
    print("\n== tokenizer_eval, per lang (milli = x1000) ==")
    for name, enc, col in (("bpe", enc_b, "bpe"),
                           ("unigram", enc_u, "pieces"),
                           ("wordpiece", enc_w, "pieces")):
        rows = tokeval.tokenizer_eval(
            docs, enc, "doc_id", "text", col, by="lang").collect()
        for r in sorted(rows, key=lambda r: r.slice):
            print(f"  {name:8s} {r.slice:8s} docs={r.n_docs:5d} "
                  f"fertility={r.fertility_milli:5d} "
                  f"chars/tok={r.chars_per_token_milli:5d} "
                  f"char-fallback={r.singleton_ratio_milli:4d}")

    # 4: eval-style overlapping windows (stride < budget) — row-local
    win = tokeval.windowed_chunks(enc_u, "doc_id", "pieces",
                                  budget=32, stride=24)
    n_win = win.count()
    tail = win.filter("n_tokens < 32").count()
    print(f"\n== windows: {n_win} of <=32 pieces at stride 24 "
          f"({tail} short tails kept) ==")
    win.orderBy("doc_id", "chunk_idx").show(5, truncate=60)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
