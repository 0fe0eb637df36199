"""Streaming near-duplicate detection — MinHash-LSH over an unbounded
stream.

The batch pipeline (functions/dedup.py: signatures → banded buckets →
candidate self-join) assumes it can see the whole corpus; a streaming
corpus needs "does THIS document near-duplicate anything seen
recently?" at arrival time.  Kafka Streams has nothing comparable
(its dedup pattern is exact-id equality over a windowed store —
SURVEY.md §2.6); this operator is the LLM-pipeline × streaming
intersection the reference cannot express.

Mechanics:

- the MinHash signature is computed PER ROW with array expressions
  (``array_min`` over the permuted shingle hashes) — no groupBy, so
  the whole query has exactly ONE stateful operator (Spark rejects an
  aggregation chained into ``applyInPandasWithState``).  Same
  permutations (dedup.PERMS) and banding (8 bands × 4 rows) as batch:
  a pair flagged here would be flagged there.
- rows explode to their 8 band buckets; ``applyInPandasWithState``
  keyed by (band, band-signature) keeps the bucket's recent members
  and emits ``(id_new, id_prior, band, ts)`` for every CO-BUCKETED
  prior doc — candidates, to be Jaccard-verified downstream exactly
  as in batch (dedup.jaccard_verify).
- **state is doubly bounded**: members older than
  ``watermark − horizon`` are pruned on every trigger (event-time
  bound), and a bucket holds at most ``bucket_cap`` members — the
  streaming twin of the batch hot-shingle cap: a degenerate bucket
  (boilerplate signature) stops accumulating instead of exploding,
  trading recall on pathological content for bounded state.
- a pair agreeing on several bands is emitted once per agreeing band
  (cross-band distinct would need a second stateful operator);
  downstream consumers dedup with ``Stream.deduplicate(within=...)``
  in a separate query, or treat candidate emission as idempotent.

Late documents (ts ≤ watermark on arrival) are dropped, mirroring the
windowed operators' late-record policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkadirect_spark.functions.dedup import (N_BANDS, ROWS_PER_BAND,
                                               with_row_signatures)
from kafkadirect_spark.streaming.util import epoch_ms, event_time_fold
from kafkadirect_spark.streaming.util import interval_ms as _interval_ms


def streaming_lsh_candidates(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str,
    n: int = 3,
    horizon: str = "1 hour",
    grace: str = "0 seconds",
    bucket_cap: int = 64,
) -> DataFrame:
    """Append-mode stream of near-duplicate candidate pairs
    ``(id_new, id_prior, band, ts)``: each arriving document is
    compared against the documents that shared one of its LSH buckets
    within the last ``horizon`` of event time."""
    horizon_ms = _interval_ms(horizon)
    key_cols = ["band"] + [f"v{r}" for r in range(ROWS_PER_BAND)]

    sigs = with_row_signatures(
        stream_df.select(F.col(id_col).alias("d_id"),
                         F.col(ts_col).alias("d_ts"), text_col),
        text_col, keep=["d_id", "d_ts"], n=n)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 *[F.col(f"sig_{b * ROWS_PER_BAND + r}").alias(f"v{r}")
                   for r in range(ROWS_PER_BAND)])
        for b in range(N_BANDS)])
    exploded = (sigs.select("d_id", "d_ts", F.explode(bands).alias("bk"))
                .select("d_id", "d_ts", "bk.*"))

    id_type = stream_df.schema[id_col].dataType.simpleString()
    out_fields = (f"id_new {id_type}, id_prior {id_type}, "
                  f"band int, ts timestamp")

    def step(key, members, pdf, wm):
        import pandas as pd

        rows = []
        if pdf is not None:
            pdf = pdf.sort_values("d_ts", kind="stable")
            for did, ts_ms in zip(pdf["d_id"].tolist(),
                                  epoch_ms(pdf["d_ts"]).tolist()):
                if ts_ms <= wm:
                    continue  # late doc: dropped, like late records
                for pid, pts in members:
                    if pts >= ts_ms - horizon_ms:
                        rows.append({"id_new": did, "id_prior": pid,
                                     "band": int(key[0]),
                                     "ts": pd.Timestamp(ts_ms, unit="ms")})
                if len(members) < bucket_cap:
                    members.append([did, ts_ms])
                # at cap: bucket is degenerate; stop accumulating

        members = [m for m in members if m[1] > wm - horizon_ms]
        if not members:
            return None, None, rows
        return members, min(m[1] for m in members) + horizon_ms, rows

    return event_time_fold(exploded, key_cols, "d_ts", grace, out_fields,
                           list, step)
