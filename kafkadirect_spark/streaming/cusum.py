"""Streaming CUSUM level-shift alerts — the live-monitor form of
``timeseries.cusum_changepoint_milli`` (Page 1954): per key, fold the
two one-sided CUSUM statistics over the value stream in EVENT-TIME
order and emit an alarm row the moment either side crosses the
threshold.

Event-time exactness by watermark-sealed buffering (the
streaming/funnel.py discipline): arrivals buffer in per-key state and
fold ONLY once the watermark passes them, sorted by (ts, value) — so
an out-of-order pair folds exactly as the batch prefix-sum would
order it; records behind the sealed frontier are dropped (the
late-record policy every watermark operator here shares).

Two deliberate, documented differences from the batch operator:

- **Reference**: batch measures deviations against the group's
  retrospective lower-median value; a monitor cannot see the future,
  so the reference here is the lower median of the first ``warmup``
  SEALED points (which establish it and do not fold).
- **Re-arm**: batch reports the FIRST crossing; the monitor resets
  both statistics to zero after each alarm (the standard chart
  practice) so a later second shift alerts again.  The reference is
  NOT re-estimated — levels are always judged against the warmup
  baseline.

Epoch assumption (the oracle generators' ≥1970 note, stated here for
the operator too): Spark's event-time watermark starts at epoch 0 and
never goes below it, so records with epoch-ms ≤ 0 (pre-1970
timestamps) are sealed-frontier late from the first micro-batch and
drop — this monitor, like every watermark operator here, assumes
post-1970 event time.

State per key is bounded: the unsealed buffer (emptied as the
watermark advances) + warmup values (≤ warmup) + two integers.
Keys are NEVER expired — a monitor's reference must survive
arbitrarily long quiet periods (the deliberate opposite of the
rate-anomaly module's idle expiry, where a silent window IS the
signal); the per-key cost is a few dozen bytes, so key-cardinality
bounds total state.

Reference analogue: none (SURVEY.md §2 — no sequential-statistics
operators); beyond-parity streaming machinery beside the rate-anomaly
alerts (`streaming/anomaly.py` — which monitors COUNTS against a
rolling median; this monitors a metric's LEVEL against Page's
optimal statistic).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkadirect_spark.streaming.util import epoch_ms, event_time_fold


def streaming_cusum_alerts(stream_df: DataFrame, key_col: str,
                           ts_col: str, value_col: str,
                           h_milli: int, warmup: int = 8,
                           grace: str = "0 seconds") -> DataFrame:
    """Append-mode alarm stream ``(key_col, alarm_ts, direction,
    stat_milli, ref_milli)`` — one row per threshold crossing of the
    two-sided CUSUM over milli-quantized values, re-armed after each
    alarm.  ``warmup`` sealed points establish the lower-median
    reference before monitoring starts."""
    import pandas as pd

    if h_milli < 1:
        raise ValueError("h_milli must be >= 1")
    if warmup < 1:
        raise ValueError("warmup must be >= 1")
    ktype = stream_df.schema[key_col].dataType.simpleString()
    out_fields = (f"`{key_col}` {ktype}, alarm_ts timestamp, "
                  "direction string, stat_milli long, ref_milli long")

    def step(key, st, pdf, wm):
        if pdf is not None:
            f = st["f"]
            for ts_ms, v in zip(epoch_ms(pdf[ts_col]).tolist(),
                                pdf[value_col].tolist()):
                if f is not None and ts_ms <= f:
                    continue                # late: behind the seal
                # the batch operator's F.floor(value * 1000)
                st["buf"].append([ts_ms, int(math.floor(v * 1000))])

        sealed = sorted([e for e in st["buf"] if e[0] <= wm])
        st["buf"] = [e for e in st["buf"] if e[0] > wm]
        rows = []
        for ts_ms, v in sealed:
            if st["ref"] is None:
                st["warm"].append(v)
                if len(st["warm"]) == warmup:
                    w = sorted(st["warm"])
                    st["ref"] = w[(len(w) + 1) // 2 - 1]
                    st["warm"] = []
                continue                    # warmup points don't fold
            dev = v - st["ref"]
            st["sp"] = max(0, st["sp"] + dev)
            st["sn"] = max(0, st["sn"] - dev)
            if st["sp"] > h_milli or st["sn"] > h_milli:
                up = st["sp"] >= st["sn"]
                rows.append({
                    key_col: key[0],
                    "alarm_ts": pd.Timestamp(ts_ms, unit="ms"),
                    "direction": "up" if up else "down",
                    "stat_milli": max(st["sp"], st["sn"]),
                    "ref_milli": st["ref"]})
                st["sp"] = st["sn"] = 0     # re-arm, same reference
        # never pin the frontier at 0 via `or 0`: a first-batch key
        # with no prior seal takes the watermark itself (Spark starts
        # it at 0 anyway, so the ≥1970 epoch assumption is structural)
        st["f"] = wm if st["f"] is None else max(wm, st["f"])
        # keys never expire; the timer wakes only for buffered points
        return st, min((e[0] for e in st["buf"]), default=None), rows

    return event_time_fold(
        stream_df.filter(F.col(key_col).isNotNull()
                         & F.col(ts_col).isNotNull()
                         & F.col(value_col).isNotNull())
        .select(key_col, ts_col, value_col),
        [key_col], ts_col, grace, out_fields,
        lambda: {"buf": [], "warm": [], "ref": None,
                 "sp": 0, "sn": 0, "f": None}, step)
