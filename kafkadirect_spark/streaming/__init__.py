"""Structured-Streaming equivalents of the reference's stateful
machinery (SURVEY.md §2.6):

- ``suppress``     Suppressed.untilWindowCloses / untilTimeLimit
- ``retraction``   KTable groupBy re-aggregation (adder/subtractor)
- ``transform``    Transformer/Processor API ≙ applyInPandasWithState
- ``sessions``     SessionWindowedKStream.aggregate custom fold
- ``window_fold``  TimeWindowedKStream.aggregate custom fold
- ``interactive``  queryable state (KafkaStreams.store)
- ``asof``         time-correct stream⋈stream as-of enrichment
- ``table_join``   KTable⋈KTable continuous dual-snapshot join
- ``global_refresh`` GlobalKTable periodic dimension re-broadcast
- ``sketch``       windowed distinct-count (HLL) + space-saving heavy hitters
- ``dedup``        streaming MinHash-LSH near-duplicate candidates
- ``decontaminate`` stateless ingest-time eval-set n-gram flag
- ``topk``         per-window top-k (salted two-phase rank)
- ``funnel``       event-time ordered-funnel milestones (watermark
                   seal ≙ the batch min-ts cascade for non-late rows)
- ``anomaly``      per-key windowed rate alerts scored against the
                   key's own exact-median history at window close
- ``cusum``        per-key two-sided CUSUM level-shift alarms in
                   watermark-sealed event-time order
- ``util``         duration parsing, ``epoch_ms`` and
                   ``event_time_fold``: the keyed-state skeleton
                   (JSON state blob, watermark, event-time timer,
                   expiry) that the eight append-mode stateful
                   operators above are built on
"""

from kafkadirect_spark.streaming import (  # noqa: F401
    anomaly, asof, cusum, decontaminate, dedup, funnel, global_refresh,
    interactive, retraction, sessions, sketch, suppress, table_join, topk,
    transform, util, window_fold,
)
