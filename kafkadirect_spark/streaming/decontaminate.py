"""Ingest-time streaming decontamination — the batch
``curation.decontaminate`` contract as a STATELESS streaming flag:
every arriving document is marked ``contaminated`` iff it shares any
word n-gram with the (static, MB-scale) evaluation set, with the
flag computed entirely row-locally so the operator is legal in
append-mode streaming with ZERO state, zero shuffles and zero
watermarks — the filter rides the ingest scan.

Why not compose the batch operator on a stream: ``decontaminate``
re-aggregates per doc (explode → semi-join → distinct → join back),
and that per-doc regroup is a stateful wide op on a stream.  Here
the doc never leaves its row: tokenize / shingle / portable-hash run
JVM-side as the SAME higher-order expressions the batch path uses
(hash parity by construction), and the only Python is one
Arrow-batched membership probe — a single vectorized ``np.isin`` of
the batch's flattened gram hashes against the sorted eval array
frozen into the UDF closure, segment-reduced per row (no per-row
python lambda).

The eval side is collected once, driver-side — the SAME "eval
benchmarks are MB-scale" assumption under which the batch operator
broadcasts it; ``max_eval_grams`` makes the assumption a loud guard
instead of an OOM.  Each executor receives the frozen set once with
the serialized closure (the broadcast-variable envelope), so at
100 TB the stream pays tokenize+hash inside WholeStageCodegen plus
one vectorized membership pass per batch — ingest-rate linear,
embarrassingly parallel.

Golden contract (tests/test_streaming.py): the streamed flags equal
batch ``curation.decontaminate`` on the same rows, bit for bit.

Reference analogue: none (SURVEY.md §2 — no document model);
beyond-parity ingest machinery beside streaming dedup
(streaming/dedup.py) — dedup guards against the corpus itself,
this guards against a reference set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkadirect_spark.functions.dedup import _widen
from kafkadirect_spark.functions.text import (portable_hash, shingles,
                                              tokens)


def streaming_decontaminate(stream_df: DataFrame, eval_df: DataFrame,
                            text_col: str, n: int = 8,
                            max_eval_grams: int = 5_000_000,
                            flag_col: str = "contaminated"
                            ) -> DataFrame:
    """Append ``flag_col`` (boolean) to ``stream_df``: true iff the
    row's ``text_col`` shares any word ``n``-gram with ``eval_df``'s
    ``text_col``.  Works identically on batch and streaming frames
    (nothing here is stateful); raises if the eval set exceeds
    ``max_eval_grams`` distinct grams — that is the operator's
    documented envelope, not a silent truncation.
    """
    from pyspark.sql.functions import pandas_udf

    if n < 1:
        raise ValueError("n must be >= 1")
    if max_eval_grams < 1:
        raise ValueError("max_eval_grams must be >= 1")
    eval_hashes = (_widen(eval_df.select(F.col(text_col)))
                   .select(F.explode(shingles(tokens(text_col), n))
                           .alias("g"))
                   .select(portable_hash(F.col("g")).alias("gh"))
                   .distinct()
                   .limit(max_eval_grams + 1)
                   .collect())
    if len(eval_hashes) > max_eval_grams:
        raise ValueError(
            f"eval set exceeds max_eval_grams={max_eval_grams} "
            "distinct n-grams — the stateless-closure envelope; "
            "raise the cap or pre-shrink the eval set")
    # frozen as a SORTED int64 array: the membership probe is one
    # vectorized np.isin over the batch's flattened gram hashes —
    # no per-row python lambda; the closure
    # envelope (ships once per executor) is unchanged
    eset = np.sort(np.fromiter((r.gh for r in eval_hashes),
                               dtype=np.int64, count=len(eval_hashes)))

    @pandas_udf("boolean")
    def _any_hit(hs: pd.Series) -> pd.Series:
        vals = [None if a is None else np.asarray(a, dtype=np.int64)
                for a in hs]
        lens = np.fromiter(
            (0 if a is None else a.size for a in vals),
            dtype=np.int64, count=len(vals))
        out = np.zeros(len(vals), dtype=bool)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate([a for a in vals
                                   if a is not None and a.size])
            hit = np.isin(flat, eset, assume_unique=False)
            # segment-any: non-empty rows are contiguous in `flat`,
            # so their start offsets strictly increase — reduceat is
            # exact
            starts = (np.cumsum(lens) - lens)[nz]
            out[nz] = np.logical_or.reduceat(hit, starts)
        return pd.Series(out)

    gram_hashes = F.transform(
        shingles(tokens(F.col(text_col)), n),
        lambda g: portable_hash(g))
    return stream_df.withColumn(flag_col, _any_hit(gram_hashes))
