"""Streaming as-of (temporal) join — the time-correct sibling of the
stream⋈table lookup.

Reference: KStream⋈KTable (`streams/src/main/java/org/apache/kafka/
streams/kstream/KStream.java:1604`, KStreamKTableJoin) enriches each
event with the table's CURRENT value — whatever happens to be
materialized when the event is processed, a race against changelog
arrival order.  This operator is the deterministic generalization the
batch `operators/asof.py` already provides: each left event picks the
latest right version with ``right_ts <= left_ts``, regardless of
arrival interleaving.

Mechanics (``applyInPandasWithState``, per key):

- both streams arrive as ONE union tagged by side, watermarked on the
  shared event-time axis — the watermark is the min across both
  inputs, so "emit left event L" ≡ "no punctual right version ≤ L.ts
  can still arrive";
- state holds the key's right-version history plus the left events
  not yet emittable; a left event emits exactly once, when the
  watermark passes its timestamp, joined against the history;
- **emissions are final**: a right version arriving behind the
  watermark (late) is added to the history — it may improve the match
  of a *pending* left event — but an already-emitted enrichment is
  never rewritten, and a late LEFT event (ts ≤ watermark on arrival)
  is dropped, mirroring the late-record policy of the windowed
  operators (KStreamSessionWindowAggregate.java late-drop);
- state is bounded: everything at or below the watermark is pruned
  except the single newest right version ≤ watermark (the "carrier"
  any future left event may still match), so per-key state is
  O(versions inside the watermark horizon) — never O(stream).

Null event times have no place on the time axis: null-ts rows on
either side are filtered at build time (the batch operator emits
null-ts left rows unmatched; a streaming watermark can never release
them, so dropping is the only bounded choice — documented divergence).

Scale shape: one hash shuffle on the key (the groupBy), per-key state
bounded by the watermark horizon — the same cost envelope as Spark's
own stream-stream join, with Python row cost only on the (small)
per-trigger delta, not the history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkadirect_spark.streaming.util import epoch_ms, event_time_fold

_SIDE = "__asof_side"
_TS = "__asof_ts"
# Revisit idle keys (prune-only wakeup) this far past the watermark.
_IDLE_REVISIT_MS = 3_600_000


def streaming_asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str] | None = None,
    grace: str = "0 seconds",
) -> DataFrame:
    """Continuous left as-of join of two streams sharing key columns
    ``on``: each ``left`` row is enriched with the ``value_cols`` of
    the latest ``right`` row having ``right_ts <= left_ts`` for the
    same key (inclusive backward match, the batch default) and emitted
    exactly once, when the watermark passes its timestamp.  Unmatched
    left rows emit null value columns.

    ``grace`` is the lateness allowance (watermark delay) on BOTH
    sides.  Ties among right rows sharing a timestamp resolve to the
    last-arrived (a per-key arrival sequence breaks them
    deterministically within a run).

    Non-key, non-timestamp column values must be JSON-serializable
    (they ride the state store) — the same contract as the other
    custom stateful operators in this package.

    Returns an append-mode streaming DataFrame with the left columns
    followed by ``value_cols``.
    """
    import pandas as pd

    keys = [on] if isinstance(on, str) else list(on)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (*keys, right_ts)]
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"right value columns {sorted(clash)} collide with left "
            "columns; alias them on the right side first")

    left_cols = list(left.columns)
    l_data = [c for c in left_cols if c not in keys]

    l = left.filter(F.col(left_ts).isNotNull()).select(
        *keys,
        F.col(left_ts).cast("timestamp").alias(_TS),
        F.lit(1).alias(_SIDE),
        *[F.col(c) for c in l_data],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c)
          for c in value_cols],
    )
    r = right.filter(F.col(right_ts).isNotNull()).select(
        *keys,
        F.col(right_ts).cast("timestamp").alias(_TS),
        F.lit(0).alias(_SIDE),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in l_data],
        *[F.col(c) for c in value_cols],
    )
    u = l.unionByName(r)

    in_cols = u.columns
    ts_like = {c for c in left_cols
               if left.schema[c].dataType.simpleString() == "timestamp"}
    out_fields = ", ".join(
        [f"`{c}` {left.schema[c].dataType.simpleString()}"
         for c in left_cols]
        + [f"`{c}` {right.schema[c].dataType.simpleString()}"
           for c in value_cols])

    def _py(v):
        """numpy/pandas scalar → JSON-safe Python value."""
        if v is None or (isinstance(v, float) and v != v):
            return None
        if isinstance(v, pd.Timestamp):
            return int(v.value // 1_000_000)
        if hasattr(v, "item"):
            v = v.item()
        return None if v is pd.NaT else v

    def step(key, st, pdf, wm):
        if pdf is not None:
            for ts_ms, row in zip(epoch_ms(pdf[_TS]).tolist(),
                                  pdf.itertuples(index=False)):
                rd = dict(zip(in_cols, row))
                if rd[_SIDE] == 0:
                    pay = {c: _py(rd[c]) for c in value_cols}
                    st["R"].append([ts_ms, st["seq"], pay])
                    st["seq"] += 1
                elif ts_ms > wm:  # a late left is dropped, never rewritten
                    st["L"].append([ts_ms, {c: _py(rd[c]) for c in l_data}])

        st["R"].sort()
        due = sorted(lr for lr in st["L"] if lr[0] <= wm)
        st["L"] = [lr for lr in st["L"] if lr[0] > wm]

        rows = []
        for ts_ms, lrow in due:
            match = None
            for rr in st["R"]:
                if rr[0] <= ts_ms:
                    match = rr
                else:
                    break
            out = dict(zip(keys, key))
            for c in l_data:
                v = lrow[c]
                out[c] = (pd.Timestamp(v, unit="ms")
                          if c in ts_like and v is not None else v)
            for c in value_cols:
                out[c] = match[2][c] if match is not None else None
            rows.append({c: out[c] for c in left_cols + value_cols})

        # prune: drop every right version ≤ wm except the newest one —
        # the only one a future (ts > wm) left row can still match
        below = [rr for rr in st["R"] if rr[0] <= wm]
        st["R"] = ([below[-1]] if below else []) + \
            [rr for rr in st["R"] if rr[0] > wm]

        if not (st["L"] or st["R"]):
            return None, None, rows
        return st, (min(lr[0] for lr in st["L"]) if st["L"]
                    else wm + _IDLE_REVISIT_MS), rows

    return event_time_fold(u, keys, _TS, grace, out_fields,
                           lambda: {"R": [], "L": [], "seq": 0}, step)
