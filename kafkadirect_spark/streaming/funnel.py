"""Streaming ordered-funnel progression — the live-dashboard form of
``behavior.funnel_steps``: per user, emit one milestone row the
moment a funnel step completes, with EVENT-TIME semantics identical
to the batch cascade for every non-late record whose timestamp is
millisecond-distinct from its predecessor step's.  Precision notes:
the conversion-window check truncates lags to WHOLE SECONDS, exactly
like the batch cascade's ``unix_timestamp`` difference; the
strictly-after comparison runs at millisecond granularity (state
keys are epoch-ms), so two step events inside the same millisecond
— microsecond-apart in batch — tie here and the later one is
skipped.

Out-of-order safety: arriving events buffer in per-user state and
fold through the step machine ONLY once the watermark passes them
(the seal) — so a signup that arrives after its own view still
completes step 1 first, exactly as the batch min-ts cascade would
order them.  Records behind the sealed frontier are dropped (the
late-record policy of every watermark operator in this engine, e.g.
streaming/sessions.py KStreamSessionWindowAggregate parity).

State per user is bounded: the unsealed event buffer (emptied as the
watermark advances; only the funnel's OWN event types are ever
buffered — the wrapper filters before the shuffle) plus the step
progression (≤ |steps| timestamps, kept after conversion so replayed
or duplicate step events can never re-emit a milestone).

Reference analogue: none (SURVEY.md §2 — no ordered-sequence
operators); beyond-parity streaming machinery beside the session /
window folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkadirect_spark.streaming.util import epoch_ms, event_time_fold


def streaming_funnel(stream_df: DataFrame, user_col: str,
                     ts_col: str, type_col: str, steps: list[str],
                     grace: str = "0 seconds",
                     within_seconds: int | None = None) -> DataFrame:
    """Append-mode stream of funnel milestones
    ``(user_col, step, event_type, step_ts)`` — step ``k`` (1-based)
    emits when the user's earliest valid ``steps[k-1]`` event seals
    under the watermark, strictly after their step-k−1 time and
    (with ``within_seconds``) within the conversion window counted
    from step-0.  Downstream ``groupBy(step).count()`` is the live
    funnel dashboard.
    """
    import pandas as pd

    if len(steps) < 2:
        raise ValueError("steps must name at least 2 event types")
    if len(set(steps)) != len(steps):
        raise ValueError("steps must be distinct")
    if within_seconds is not None and within_seconds < 1:
        raise ValueError("within_seconds must be >= 1")
    step_idx = {s: i for i, s in enumerate(steps)}
    utype = stream_df.schema[user_col].dataType.simpleString()
    out_fields = (f"`{user_col}` {utype}, step long, "
                  "event_type string, step_ts timestamp")

    def step(key, st, pdf, wm):
        if pdf is not None:
            f = st["f"]
            for ts_ms, ty in zip(epoch_ms(pdf[ts_col]).tolist(),
                                 pdf[type_col].tolist()):
                if f is not None and ts_ms <= f:
                    continue                # late: behind the seal
                st["buf"].append([ts_ms, ty])

        # seal: fold every buffered event the watermark has passed,
        # in event-time order — identical to the batch cascade
        sealed = sorted([e for e in st["buf"] if e[0] <= wm])
        st["buf"] = [e for e in st["buf"] if e[0] > wm]
        rows = []
        for ts_ms, ty in sealed:
            k = len(st["done"])
            if k >= len(steps) or step_idx.get(ty) != k:
                continue
            if k > 0 and ts_ms <= st["done"][-1]:
                continue                    # not strictly after k-1
            # whole-second lag, matching the batch cascade's
            # unix_timestamp truncation exactly: the window check
            # must not disagree with batch on subsecond timestamps
            if (within_seconds is not None and k > 0
                    and ts_ms // 1000 - st["done"][0] // 1000
                    > within_seconds):
                continue                    # outside the window
            st["done"].append(ts_ms)
            rows.append({
                user_col: key[0], "step": k + 1, "event_type": ty,
                "step_ts": pd.Timestamp(ts_ms, unit="ms")})
        # the frontier is exactly "everything <= f has been folded":
        # wm after every seal pass (arrivals at or behind it are late)
        st["f"] = max(wm, st["f"] or 0)
        # progress is kept after conversion so replays never re-emit;
        # the timer wakes only for buffered events
        return st, min((e[0] for e in st["buf"]), default=None), rows

    relevant = F.col(type_col).isin(list(steps))
    return event_time_fold(
        stream_df.filter(F.col(user_col).isNotNull() & relevant)
        .select(user_col, ts_col, type_col),
        [user_col], ts_col, grace, out_fields,
        lambda: {"buf": [], "done": [], "f": None}, step)
