"""Streaming session windows with an ARBITRARY fold — the
Initializer + Aggregator + Merger surface of
SessionWindowedKStream.aggregate (SessionWindowedKStreamImpl.java;
merge loop KStreamSessionWindowAggregate.java:94-141) for folds the
expression aggregates can't express.

Spark's native ``F.session_window`` covers expression folds (see
core.WindowedGroupedStream); batch custom folds go through
``aggregate_with``.  This module is the remaining quadrant: streaming
+ custom fold.  State lives executor-side in
``applyInPandasWithState`` — per key, a list of OPEN sessions, each
carrying the user's running aggregate:

- a record merges every open session it overlaps (ts within ``gap``
  of the session bounds) into one — the reference's findMergedWindow
  loop — combining aggregates with ``merger``;
- a session emits when the watermark passes ``last_event + gap``
  (nothing can extend it anymore); window end is ``last + gap``, the
  F.session_window convention used across this engine;
- records whose whole session window is already past the watermark
  are dropped (the reference's late-record drop,
  KStreamSessionWindowAggregate.java:107-141).

The user aggregate must be JSON-serializable (it rides in the state
store); per-row Python cost is the same contract as the reference's
user lambdas — this is the escape hatch, not the hot path.  Pandas
dtype caveat for aggregators that string-render or hash values: see
streaming/window_fold.py's module docstring (a null-mixed Arrow
batch widens longs to float64; cast to string JVM-side first).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from kafkadirect_spark.streaming.util import epoch_ms, event_time_fold
from kafkadirect_spark.streaming.util import interval_ms as _interval_ms


def streaming_session_aggregate(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap: str,
    initializer: Callable[[], dict],
    aggregator: Callable[[dict, dict], dict],
    merger: Callable[[dict, dict], dict],
    finisher: Callable[[dict], dict],
    agg_fields: str,
    grace: str = "0 seconds",
) -> DataFrame:
    """Streaming session aggregation with a custom fold.

    ``initializer() → agg``; ``aggregator(agg, row_dict) → agg`` folds
    one record (Aggregator.apply); ``merger(a, b) → agg`` combines two
    sessions' aggregates (Merger.apply); ``finisher(agg) → dict``
    materializes the output columns declared in ``agg_fields`` (e.g.
    ``"best_value int, n long"``).  Returns an append-semantics
    streaming DataFrame with columns
    ``*key_cols, window_start, window_end, *agg_fields``.
    """
    import pandas as pd

    gap_ms = _interval_ms(gap)
    keys = list(key_cols)
    out_fields = ", ".join(
        [f"`{k}` {stream_df.schema[k].dataType.simpleString()}"
         for k in keys]
        + ["window_start timestamp", "window_end timestamp", agg_fields])
    in_cols = stream_df.columns

    def step(key, sessions, pdf, wm):
        if pdf is not None:
            # one sort across ALL arrow chunks of the trigger: a
            # per-chunk sort would still feed a non-commutative
            # aggregator cross-chunk out-of-order folds
            pdf = pdf.sort_values(ts_col, kind="stable")
            for ts_ms, row in zip(epoch_ms(pdf[ts_col]).tolist(),
                                  pdf.itertuples(index=False)):
                rd = dict(zip(in_cols, row))
                # findMergedWindow: collect every open session this
                # record touches (inclusive gap boundary, matching
                # F.session_window / the batch oracle convention).
                touch = [s for s in sessions
                         if s["s"] - gap_ms <= ts_ms <= s["e"] + gap_ms]
                lo = min([ts_ms, *(s["s"] for s in touch)])
                hi = max([ts_ms, *(s["e"] for s in touch)])
                if hi + gap_ms <= wm:
                    # The MERGED window is already closed — the
                    # reference drops the record after computing the
                    # merge (mergedWindow.end < closeTime,
                    # KStreamSessionWindowAggregate.java:107-141);
                    # touched stale sessions close unmodified below.
                    continue
                rest = [s for s in sessions if s not in touch]
                agg = initializer()
                for s in sorted(touch, key=lambda s: s["s"]):
                    agg = merger(agg, s["a"])
                agg = aggregator(agg, rd)
                sessions = rest + [{"s": lo, "e": hi, "a": agg}]

        closed = sorted((s for s in sessions if s["e"] + gap_ms <= wm),
                        key=lambda s: s["s"])
        still_open = [s for s in sessions if s["e"] + gap_ms > wm]
        rows = []
        for s in closed:
            out = dict(zip(keys, key))
            out["window_start"] = pd.Timestamp(s["s"], unit="ms")
            out["window_end"] = pd.Timestamp(s["e"] + gap_ms, unit="ms")
            out.update(finisher(s["a"]))
            rows.append(out)
        if not still_open:
            return None, None, rows
        return (still_open, min(s["e"] + gap_ms for s in still_open),
                rows)

    return event_time_fold(stream_df, keys, ts_col, grace, out_fields,
                           list, step)
