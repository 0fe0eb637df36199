"""Scale probe — how bench suites and the heavy operators grow with
corpus size, reproducibly.

Generic mode times any bench suite or registered query
(``bench.build_suites()`` and ``QUERIES``) over replicated copies of
the sf directory through ``bench.run``, the loop bench.py times with
(parquet scan, noop sink):

    python tools/scale_probe.py [--organic] [--ops a,b,c] [--start N]
        [sf_dir] [max_repl]

It prints one JSON line per (suite, replication factor):
  {"op": "...", "mode": "replicate|organic", "repl": N, "docs": M,
   "sec": T}
Factors run 1, 4, 16, ... up to ``max_repl``; ``--start`` skips those
below N (``--start 64 ... 256`` gives a same-session step ratio
without re-measuring the small points).

``replicate`` writes ``k`` id-shifted replicas of documents, events,
lineitem and embeddings as parquet into a scratch sf directory (the
other tables are linked unchanged).  Tag schemes:

- ``none`` (default): exact copies under fresh ids.  Every duplicate
  relationship replicates too, so cross-replica duplicate pairs grow
  ~k², faster than any organic corpus.
- ``alnum`` (``--organic``): replica i > 0 suffixes every alphanumeric
  run of the text with ``q<i>``, offsets event values per replica and
  shifts one embedding dimension.  The tag survives ``text.tokens``,
  so token counts per doc are unchanged while every word, shingle and
  event series is fresh: the corpus-wide duplicate rate stays fixed as
  the corpus grows.
- ``fan``: every word of every replica gets an
  ``x<xxhash64(word, doc_id) % fan>`` suffix, minting ~31·fan word
  types: type tables far beyond what per-replica tags reach.

Bespoke probes report what a suite timing cannot (a recall, a phase
split, a parameter sweep), each over the helper's output:

    python tools/scale_probe.py --probe NAME [sf_dir]

with NAME one of semdedup, ivf_pq, bpe, unigram, unigram_big, wordpiece,
vocab_coverage, nb_classes, sax.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from kafkadirect_spark.functions import (  # noqa: E402
    bpe, curation, similarity, timeseries, unigram, wordpiece)
from kafkadirect_spark.functions.text import tokens  # noqa: E402
from kafkadirect_spark.sources.batch import TABLES, load_table  # noqa: E402

SHIFT = 10_000_000  # replica i adds i * SHIFT to every id column
_IDS = {"documents": ("doc_id",), "events": ("event_id", "user_id"),
        "lineitem": ("l_orderkey",), "embeddings": ("vec_id",)}


def _replica(name: str, df, i: int, tag: str, fan: int):
    for c in _IDS[name]:
        df = df.withColumn(c, F.col(c) + i * SHIFT)
    if tag == "alnum" and i > 0:
        if name == "documents":
            df = df.withColumn("text", F.regexp_replace(
                "text", "([A-Za-z0-9]+)", f"$1q{i}"))
        if name == "events":
            df = df.withColumn("value", F.col("value") + float(37 * (i % 11)))
        if name == "embeddings":
            # one shifted dimension per replica changes the cosine
            # direction (a uniform scale would not) while keeping the
            # cluster geometry balanced
            df = df.withColumn("embedding", F.transform(
                "embedding", lambda x, j: F.when(
                    j == i % 64, (x + 0.05 * (i % 7 + 1)).cast("float"))
                .otherwise(x)))
    if tag == "fan" and name == "documents":
        df = df.withColumn("text", F.concat_ws(" ", F.transform(
            F.split("text", " "), lambda w: F.concat(
                w, F.lit("x"),
                F.pmod(F.xxhash64(w, "doc_id"), F.lit(fan)).cast("string")))))
    return df


def replicate(spark, sf_dir: str, out_dir: str, k: int,
              tag: str = "none", fan: int = 0) -> str:
    """Write ``k`` replicas of the four grown tables into ``out_dir``,
    one append per replica (tag schemes in the module docstring), link
    the other tables, and return ``out_dir``: an sf directory
    ``load_table`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name not in _IDS:
            os.symlink(os.path.abspath(f"{sf_dir}/{name}.parquet"), dst)
            continue
        base = load_table(spark, sf_dir, name)
        for i in range(k):
            _replica(name, base, i, tag, fan).write.mode("append").parquet(dst)
    return out_dir


@contextlib.contextmanager
def replicas(spark, sf_dir: str, k: int, tag: str = "none", fan: int = 0):
    """``replicate`` into a temporary directory removed on exit."""
    with tempfile.TemporaryDirectory(prefix="kds-scale-") as d:
        yield replicate(spark, sf_dir, d, k, tag, fan)


def timed(spark, sf_dir: str, fn, name: str = "probe"):
    """Seconds of one ``bench.run`` of ``fn(spark, sf_dir)``, and the
    frame it returned."""
    got = {}
    sec = bench.run(spark, sf_dir, {name: fn}, 1,
                    lambda _, df: got.setdefault("df", df))[name][0]
    return round(sec, 2), got.get("df")


def _emit(**row) -> None:
    print(json.dumps(row), flush=True)


def _n_types(spark, sf_dir: str) -> int:
    return bpe.word_type_counts(load_table(spark, sf_dir, "documents"),
                                "text", min_count=2,
                                max_word_types=1 << 16).count()


def semdedup(spark, sf_dir: str = "/root/testdata/sf0.1",
             steps: tuple[int, ...] = (1, 4, 16), base_k: int = 8) -> None:
    """SemDeDup at k ∝ data (the paper's recipe: cluster size stays
    ~constant, so Σ n_c² ≈ cluster·N is linear in corpus size) against
    a fixed k (cluster size grows with the corpus, Σ n_c² ≈ N²/k grows
    quadratically) — k, not corpus size, is the knob that bounds the
    cost (functions/similarity.py semdedup_prune)."""
    for repl in steps:
        with replicas(spark, sf_dir, repl, "alnum") as d:
            for mode, k in (("scaled_k", base_k * repl), ("fixed_k", base_k)):
                sec, _ = timed(spark, d, lambda s, sf: (
                    similarity.semdedup_prune(
                        load_table(s, sf, "embeddings"), "vec_id",
                        "embedding", k=k, iters=2)))
                _emit(op="semdedup_prune", mode=mode, repl=repl, k=k, sec=sec)


def ivf_pq(spark, sf_dir: str = "/root/testdata/sf0.1", n: int = 10,
           nprobes: tuple[int, ...] = (1, 2, 4, 8)) -> None:
    """IVFADC and IVFADC+R recall per nprobe against two baselines:
    exact cosine top-n (``recall_vs_blas``: the PQ quantization loss,
    the shortlist loss and the cosine-vs-L2 gap together) and the
    full-scan ADC top-n over the same codebooks (``recall_vs_pq``: the
    shortlist loss alone).  Collects are probe-sized (≤ 64·n rows per
    arm); each arm's wall includes its collect."""
    emb = load_table(spark, sf_dir, "embeddings").persist()
    # % 37 keeps the probe set under the 64-probe ADC literal-table
    # cap at sf0.1 (2000 vectors → 55 probes)
    probes = emb.filter(F.col("vec_id") % 37 == 0)

    def topsets(build):
        t0 = time.perf_counter()
        out: dict[int, set] = {}
        for r in build().select("vec_id", "neighbor_id").collect():
            out.setdefault(r[0], set()).add(r[1])
        return out, round(time.perf_counter() - t0, 2)

    def recall(got: dict, want: dict) -> float:
        hit = sum(len(got.get(p, set()) & s) for p, s in want.items())
        tot = sum(len(s) for s in want.values())
        return round(hit / tot, 3) if tot else 1.0

    blas, blas_sec = topsets(lambda: similarity.cosine_topk_blas(
        emb, "vec_id", "embedding", k=n, probes=probes))
    full, pq_sec = topsets(lambda: similarity.pq_topk(
        emb, "vec_id", "embedding", probes, n=n, m=4, k=16, iters=2))
    _emit(op="ivf_pq_recall", arm="baselines", probes=len(blas), n=n,
          blas_sec=blas_sec, pq_full_sec=pq_sec)
    ivf = dict(centroid_stride=25, m=4, k=16, iters=2)
    for nprobe in nprobes:
        for op, fn, extra in (
                ("ivf_pq_recall", similarity.ivf_pq_topk, {}),
                ("ivf_pq_rerank_recall", similarity.ivf_pq_rerank,
                 {"refine": 4})):
            got, sec = topsets(lambda: fn(emb, "vec_id", "embedding", probes,
                                          n=n, nprobe=nprobe, **ivf, **extra))
            _emit(op=op, nprobe=nprobe, n=n, **extra, sec=sec,
                  recall_vs_blas=recall(got, blas),
                  recall_vs_pq=recall(got, full))
    emb.unpersist()


def bpe_split(spark, sf_dir: str = "/root/testdata/sf0.1",
              steps: tuple[int, ...] = (1, 16, 64)) -> None:
    """BPE training's phase split per growth regime: ``replicated``
    copies share word types (the type table is constant, token
    occurrences grow ×k), ``organic`` ones mint fresh types (the table
    grows ×k).  Claim: only the word-count pass tracks corpus size;
    merge learning tracks the type table, bounded by
    ``max_word_types``."""
    for repl in steps:
        for variant, tag in (("replicated", "none"), ("organic", "alnum")):
            with replicas(spark, sf_dir, repl, tag) as d:
                t0 = time.perf_counter()
                wt = bpe.word_type_counts(
                    load_table(spark, d, "documents"), "text", min_count=2,
                    max_word_types=1 << 16).collect()
                count_sec = round(time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                merges = bpe._py_learn([(r["word"], int(r["n"])) for r in wt],
                                       12)
                _emit(op="learn_bpe", variant=variant, repl=repl,
                      types=len(wt), n_merges=len(merges),
                      count_sec=count_sec,
                      learn_sec=round(time.perf_counter() - t0, 3))


def unigram_train(spark, sf_dir: str = "/root/testdata/sf0.01",
                  steps: tuple[int, ...] = (1, 4, 16), vocab_size: int = 64,
                  rounds: int = 2, seed_factor: int = 4) -> None:
    """Unigram-LM training over organic replicas (the type table and
    the substring seed space grow ×k).  Claim: training wall tracks
    the type table: the corpus is touched once, in word-type counting,
    and each EM round is one mapInPandas pass over the bounded type
    table plus an inventory-sized exchange."""
    for k in steps:
        with replicas(spark, sf_dir, k, "alnum") as d:
            docs = load_table(spark, d, "documents")
            n_seeds = (bpe.word_type_counts(docs, "text", 2, 1 << 16)
                       .select(F.explode(F.expr(
                           "flatten(transform(sequence(1, length(word)), "
                           "i -> transform(sequence(i, least(length(word), "
                           "i + 7)), j -> substring(word, i, j - i + 1))))"))
                           .alias("p"))
                       .distinct().count())
            sec, inv = timed(spark, d, lambda s, sf: unigram.learn_unigram(
                load_table(s, sf, "documents"), "text", vocab_size=vocab_size,
                rounds=rounds, min_count=2, seed_factor=seed_factor))
            _emit(op="learn_unigram", repl=k, types=_n_types(spark, d),
                  seed_space=n_seeds, inventory=inv.count(),
                  vocab_size=vocab_size, rounds=rounds,
                  seed_factor=seed_factor, sec=sec)


def unigram_big(spark, sf_dir: str = "/root/testdata/sf0.01",
                steps: tuple[tuple[int, int], ...] = ((4, 1024), (16, 4096)),
                vocab_size: int = 1024, seed_factor: int = 100,
                rounds: int = 2) -> None:
    """Unigram training at a realistic inventory (real tokenizers
    prune ~1e6 seeds to 32k pieces).  Per-replica tags mint types too
    slowly for that (128 replicas give ~14k distinct substrings), so
    types are hash-fanned: at (16, 4096) the capped type table
    saturates max_word_types=65536 and the seed inventory exceeds 1e5.
    Claims at that scale: the seed TakeOrdered cap, the
    seed_factor·vocab_size-row inventory exchange per EM round, and
    the ~1e5-entry integer score dict shipped in every segmentation
    task's closure."""
    for k, m in steps:
        with replicas(spark, sf_dir, k, "fan", m) as d:
            sec, inv = timed(spark, d, lambda s, sf: unigram.learn_unigram(
                load_table(s, sf, "documents"), "text", vocab_size=vocab_size,
                rounds=rounds, min_count=2, seed_factor=seed_factor))
            _emit(op="learn_unigram_big", repl=k, fan=m,
                  types=_n_types(spark, d),
                  inventory_cap=seed_factor * vocab_size,
                  survivors=inv.count(), vocab_size=vocab_size,
                  rounds=rounds, sec=sec)


def wordpiece_train(spark, sf_dir: str = "/root/testdata/sf0.01",
                    steps: tuple[tuple[int, int], ...] = (
                        (1, 0), (4, 1024), (16, 4096)),
                    n_merges: int = 12) -> None:
    """WordPiece training over hash-fanned types (fan 0 leaves the
    corpus as is).  Claims: the corpus is touched once, in the
    word-type count; the collected table is capped at
    ``max_word_types``, so wall tracks the type table, not the
    corpus, and the scored argmax stays a Python loop over it."""
    for k, m in steps:
        with replicas(spark, sf_dir, k, "fan" if m else "none", m) as d:
            wall, merges = timed(spark, d, lambda s, sf: (
                wordpiece.learn_wordpiece(
                    load_table(s, sf, "documents"), "text", n_merges,
                    min_count=2, max_word_types=1 << 16)))
            _emit(op="learn_wordpiece", repl=k, hash_fan=m,
                  types=_n_types(spark, d), merges=merges.count(),
                  sec=wall)


def vocab_coverage(spark, sf_dir: str = "/root/testdata/sf0.01",
                   steps: tuple[tuple[int, int], ...] = (
                       (1, 0), (4, 1024), (16, 8192))) -> None:
    """vocab_coverage's real bound is the count-of-counts frame
    (distinct count values) its single-partition cumulative window
    runs over.  Claim: levels ≪ vocabulary (O(√tokens) under Zipf), so
    the walk stays register-sized while hash-fanned vocabularies grow;
    wall tracks the one word-count exchange."""
    for k, m in steps:
        with replicas(spark, sf_dir, k, "fan" if m else "none", m) as d:
            vocab = (load_table(spark, d, "documents")
                     .select(F.explode(tokens("text")).alias("w"))
                     .groupBy("w").count())
            sec, out = timed(spark, d, lambda s, sf: curation.vocab_coverage(
                load_table(s, sf, "documents"), "text",
                ks=(100, 1000, 10000, 100000)))
            _emit(op="vocab_coverage", repl=k, hash_fan=m,
                  vocab=vocab.count(),
                  count_levels=vocab.select("count").distinct().count(),
                  rows=out.count(), sec=sec)


def nb_classes(spark, sf_dir: str = "/root/testdata/sf0.1",
               fans: tuple[int, ...] = (1, 4, 16)) -> None:
    """Naive Bayes over a fixed corpus with C fanned out by
    sub-labeling lang with doc_id % fan (C = 5·fan).  Claim: a wide
    taxonomy adds compute, not shuffle — one exploded train exchange,
    one vocab-sized pivot join and one doc aggregate at every C, with
    the per-class bits as pivot-column expressions, so wall grows
    sub-linearly in C."""
    def labeled(s, sf, fan):
        return load_table(s, sf, "documents").withColumn("cls", F.concat_ws(
            "_", "lang", (F.col("doc_id") % fan).cast("string")))

    for fan in fans:
        def fn(s, sf, fan=fan):
            docs = labeled(s, sf, fan)
            return curation.nb_classify(docs.filter(F.col("doc_id") % 2 == 0),
                                        docs, "doc_id", "text", "cls",
                                        max_classes=128)
        sec, _ = timed(spark, sf_dir, fn)
        _emit(op="nb_classify_classes", fan=fan,
              classes=labeled(spark, sf_dir, fan).select("cls").distinct()
              .count(), sec=sec)


def sax(spark, sf_dir: str = "/root/testdata/sf0.1",
        steps: tuple[int, ...] = (1, 4, 16)) -> None:
    """SAX search over organic replicas (fresh users with value series
    offset per replica, so their PAA words differ and bucket sizes
    track the true collision rate, not the factor).  Claims: the PAA
    exchange carries users·segments partial sums, and pair work stays
    bucket-bounded.  ``a4s8`` is the sizing-rule point: 4^8 = 65,536
    words ≫ users, uncapped, so pair output must stay near the
    collision bound and wall must track the PAA exchange."""
    for k in steps:
        with replicas(spark, sf_dir, k, "alnum") as d:
            for mode, perms, cap, segs in (
                    ("binary_capped", (500,), 64, 6),
                    ("quartile_uncapped", (250, 500, 750), None, 6),
                    ("discriminating_a4s8", (250, 500, 750), None, 8)):
                frames = {}

                def pairs(s, sf):
                    frames["words"], frames["pairs"], _ = (
                        timeseries.sax_pipeline(
                            load_table(s, sf, "events"), "user_id", "ts",
                            "value", "2024-01-01", "2024-01-31",
                            n_segments=segs, permilles=perms,
                            max_bucket=cap))
                    return frames["pairs"]
                sec, _ = timed(spark, d, pairs)
                _emit(op="sax_pipeline", mode=mode, repl=k,
                      users=frames["words"].count(),
                      pairs=frames["pairs"].count(), sec=sec)


PROBES = {"semdedup": semdedup, "ivf_pq": ivf_pq, "bpe": bpe_split,
          "unigram": unigram_train, "unigram_big": unigram_big,
          "wordpiece": wordpiece_train, "vocab_coverage": vocab_coverage,
          "nb_classes": nb_classes, "sax": sax}


def main(spark, sf_dir: str, max_repl: int, organic: bool,
         ops: list[str], start: int) -> None:
    from kafkadirect_spark.plans import QUERIES

    suites, extras = bench.build_suites()
    table = {**QUERIES, **suites, **extras}
    unknown = sorted(set(ops) - set(table))
    if unknown:
        raise SystemExit(f"unknown --ops {unknown}; choose bench suites "
                         "or registered queries")
    n_docs = load_table(spark, sf_dir, "documents").count()
    repl = 1
    while repl < start:
        repl *= 4
    tag, mode = ("alnum", "organic") if organic else ("none", "replicate")
    while repl <= max_repl:
        with replicas(spark, sf_dir, repl, tag) as d:
            for op in ops:
                sec, _ = timed(spark, d, table[op], op)
                _emit(op=op, mode=mode, repl=repl, docs=n_docs * repl,
                      sec=sec)
        repl *= 4


if __name__ == "__main__":
    from kafkadirect_spark.session import get_spark

    args = sys.argv[1:]
    opts = {}
    for flag in ("--probe", "--ops", "--start"):
        if flag in args:
            i = args.index(flag)
            opts[flag] = args[i + 1]
            del args[i:i + 2]
    organic = "--organic" in args
    args = [a for a in args if a != "--organic"]
    if "--probe" in opts and opts["--probe"] not in PROBES:
        raise SystemExit(f"unknown --probe; choose from {sorted(PROBES)}")
    if "--probe" not in opts and "--ops" not in opts:
        raise SystemExit(__doc__)
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if "--probe" in opts:
        PROBES[opts["--probe"]](spark, *args[:1])
    else:
        main(spark, args[0] if args else "/root/testdata/sf0.1",
             int(args[1]) if len(args) > 1 else 16, organic,
             opts["--ops"].split(","), int(opts.get("--start", 1)))
    spark.stop()
