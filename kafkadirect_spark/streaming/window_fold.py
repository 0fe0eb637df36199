"""Streaming tumbling/hopping windows with an ARBITRARY fold — the
Initializer + Aggregator surface of TimeWindowedKStream.aggregate
(TimeWindowedKStreamImpl.java:63-112; processor
KStreamWindowAggregate.java:96-153) for folds expression aggregates
can't express, in streaming.

Together with ``streaming/sessions.py`` (session custom fold) and
``core.aggregate_with`` (batch, all window kinds) this completes the
custom-fold matrix {batch, streaming} × {tumbling, hopping, session,
unlimited*}.  (*unlimited never closes, so an append-mode streaming
fold cannot exist by definition; use ``transform.process_with_state``
in update mode for a landmark fold.)

State per key: the open windows' running aggregates, keyed by window
start.  A record folds into every window covering its timestamp —
tumbling has one, hopping ⌈size/advance⌉, the same epoch-aligned
enumeration as ``F.window`` (TimeWindows.java:176-186 windowsFor).
Late records whose window end + grace is behind the watermark are
dropped (KStreamWindowAggregate.java:131-151); windows emit exactly
once, when the watermark passes their end — final results, the
suppress-untilWindowCloses contract.

The user aggregate must be JSON-serializable; per-row Python cost is
the reference's own user-lambda contract (escape hatch, not hot path).

Row values arrive through pandas/Arrow, with pandas' dtype widening:
a NULL anywhere in a batch turns a long column into float64, so an
aggregator that STRING-RENDERS or hashes values (``str(v)``) can
silently diverge from a JVM-side rendering of the same column
(``str(5.0) != "5"``).  Cast such columns to string JVM-side before
the fold — ``streaming/sketch.py``'s ``_stringify`` is the pattern
(pinned by tests/test_sketch.py's null-mixed window).
Numeric folds (+, min, max, counts) are unaffected: integers stay
exact through float64 up to 2^53 and the output schema casts back.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from kafkadirect_spark.streaming.util import epoch_ms, event_time_fold
from kafkadirect_spark.streaming.util import interval_ms as _interval_ms


def streaming_windowed_aggregate(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    size: str,
    initializer: Callable[[], dict],
    aggregator: Callable[[dict, dict], dict],
    finisher: Callable[[dict], dict],
    agg_fields: str,
    advance: str | None = None,
    grace: str = "0 seconds",
) -> DataFrame:
    """Streaming windowed aggregation with a custom fold.

    ``initializer() → agg``; ``aggregator(agg, row_dict) → agg``
    (Aggregator.apply); ``finisher(agg) → dict`` materializes the
    output columns declared in ``agg_fields``.  ``advance=None`` means
    tumbling (advance == size, TimeWindows.java:110).  Returns an
    append-semantics streaming DataFrame with columns
    ``*key_cols, window_start, window_end, *agg_fields``.
    """
    import pandas as pd

    size_ms = _interval_ms(size)
    adv_ms = _interval_ms(advance) if advance is not None else size_ms
    if adv_ms > size_ms:
        raise ValueError("advance must be <= size (TimeWindows.java:150)")
    keys = list(key_cols)
    out_fields = ", ".join(
        [f"`{k}` {stream_df.schema[k].dataType.simpleString()}"
         for k in keys]
        + ["window_start timestamp", "window_end timestamp", agg_fields])
    in_cols = stream_df.columns

    def windows_for(ts_ms: int) -> list[int]:
        """Epoch-aligned covering starts in (ts − size, ts] stepping
        by advance — TimeWindows.java:176-186 / F.window enumeration."""
        last = ts_ms - ts_ms % adv_ms
        starts = []
        s = last
        while s > ts_ms - size_ms:
            starts.append(s)
            s -= adv_ms
        return starts

    def step(key, open_w, pdf, wm):
        if pdf is not None:
            # fold in event-time order across ALL arrow chunks so a
            # non-commutative user aggregator sees records in order
            pdf = pdf.sort_values(ts_col, kind="stable")
            for ts_ms, row in zip(epoch_ms(pdf[ts_col]).tolist(),
                                  pdf.itertuples(index=False)):
                rd = dict(zip(in_cols, row))
                for ws in windows_for(ts_ms):
                    if ws + size_ms <= wm:
                        continue  # window closed: late record drop
                    k = str(ws)
                    agg = open_w.get(k)
                    open_w[k] = aggregator(
                        initializer() if agg is None else agg, rd)

        rows = []
        for ws in sorted(int(k) for k in open_w if int(k) + size_ms <= wm):
            out = dict(zip(keys, key))
            out["window_start"] = pd.Timestamp(ws, unit="ms")
            out["window_end"] = pd.Timestamp(ws + size_ms, unit="ms")
            out.update(finisher(open_w.pop(str(ws))))
            rows.append(out)
        if not open_w:
            return None, None, rows
        return open_w, min(int(k) for k in open_w) + size_ms, rows

    return event_time_fold(stream_df, keys, ts_col, grace, out_fields,
                           dict, step)
