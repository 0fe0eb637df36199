"""Streaming rate-anomaly alerts — per-key tumbling-window event
counts scored against the key's OWN recent history the moment the
watermark closes each window: the alerting pipeline (error-rate
spike, traffic collapse) that pairs with the batch diagnostics
(`diagnostics.mad_outliers`, `histogram_drift`).

Everything is event-time and integer: windows close exactly once
(append semantics), the baseline is the exact median of the last
``history`` CLOSED window counts, and the deviation is the
truncating ``1000·|count − median| DIV max(median, 1)``.  A window
with no history yet (the first ``min_history`` windows of a key)
reports ``dev_permille`` against whatever history exists and never
alerts — cold keys don't page anyone.

Collapse-to-zero IS detected: once a key has state, the
watermark closes EVERY window from the key's frontier — windows with
no arrivals synthesize a zero-count row, so a key whose traffic
stops scores ``dev_permille = 1000`` against its own median and
alerts like any other deviation.  Zero-count closes never enter the
baseline history (the median stays "typical traffic when there IS
traffic", so a legitimately sparse key firing every few windows is
not scored against a zero-polluted median), and at most ``history``
consecutive zero rows emit per silence: after that the collapse is
acknowledged — further silent windows are skipped (the frontier
jumps to the next window holding data, bounding the seal pass
against clock-skewed far-future events) and a key with nothing
pending expires via ``state.remove()`` (the sessions/window_fold/
suppress discipline); a key that later returns starts cold and never
alerts on its comeback window.

State per key is bounded: open-window partial counts (closed by the
watermark, the same envelope as streaming/window_fold.py), a
``history``-length deque of closed counts, and the frontier — the
next window start the watermark has not yet closed.

Reference analogue: stream-time windowed counts are §2.4/§2.5
surface; the history-scored alerting on top is beyond parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkadirect_spark.streaming.util import epoch_ms, event_time_fold
from kafkadirect_spark.streaming.util import interval_ms as _interval_ms


def _upgrade_state(st: dict) -> dict:
    """Checkpoint-compatibility shim: state persisted by versions
    without collapse synthesis lacks the frontier / zero-run keys.
    The frontier must be DERIVED from the pending open windows, not
    pinned to None: with f=None a restored key holding open counts
    would be ``state.remove()``d on its first timeout (silently
    dropping the pending window counts), or — if an arrival landed
    first — re-anchored at the NEW bucket, stranding older open
    windows below the frontier where the z>=history jump could later
    walk backward and re-emit already-sealed windows.
    Current-format states pass through unchanged (a persisted state
    always has a non-None frontier — the update path removes the key
    otherwise)."""
    if st.get("f") is None:
        st["f"] = min((int(k) for k in st.get("open", {})),
                      default=None)
    st.setdefault("z", 0)
    return st


def streaming_rate_alerts(stream_df: DataFrame, key_col: str,
                          ts_col: str, window: str = "1 minute",
                          history: int = 8, min_history: int = 3,
                          threshold_permille: int = 500,
                          grace: str = "0 seconds") -> DataFrame:
    """Append-mode stream of scored window closures
    ``(key_col, window_start, n_events, baseline_median,
    dev_permille, is_alert)`` — one row per (key, tumbling window)
    when the watermark passes its end.  ``is_alert`` is true iff at
    least ``min_history`` closed windows back the median AND the
    deviation exceeds ``threshold_permille``.
    """
    import pandas as pd

    if history < 1 or min_history < 1 or min_history > history:
        raise ValueError("need 1 <= min_history <= history")
    if threshold_permille < 1:
        raise ValueError("threshold_permille must be >= 1")
    win_ms = _interval_ms(window)
    ktype = stream_df.schema[key_col].dataType.simpleString()
    out_fields = (f"`{key_col}` {ktype}, window_start timestamp, "
                  "n_events long, baseline_median long, "
                  "dev_permille long, is_alert boolean")

    def step(key, st, pdf, wm):
        st = _upgrade_state(st)
        if pdf is not None:
            # one vectorized epoch-ms floordiv + value_counts per
            # trigger, no per-row python loop
            w0s = epoch_ms(pdf[ts_col]) // win_ms * win_ms
            for w0, cnt in w0s.value_counts().items():
                w0 = int(w0)
                if w0 + win_ms <= wm:
                    continue            # late: window already closed
                k = str(w0)
                st["open"][k] = st["open"].get(k, 0) + int(cnt)
                st["f"] = w0 if st["f"] is None else min(st["f"], w0)

        # seal: close EVERY window from the frontier the watermark
        # has passed — windows with no arrivals synthesize n=0, so
        # traffic collapse scores and alerts.  Two bounds keep the
        # pass small and the baseline honest:
        # - zero-count closes never enter `hist` (the baseline stays
        #   the median of windows that HAD traffic, so a sparse key
        #   firing every few windows is not scored against a
        #   zero-polluted median); instead `z` counts CONSECUTIVE
        #   zero closes;
        # - once z reaches `history`, the collapse is acknowledged:
        #   further zero windows emit nothing and the frontier JUMPS
        #   straight to the next window holding data — so one
        #   clock-skewed far-future event cannot make this loop
        #   iterate per window across years (≤ |open|·(history+1)
        #   iterations per pass), and a fully idle key expires.
        rows = []
        w0 = st["f"]
        while w0 is not None and w0 + win_ms <= wm:
            k = str(w0)
            if k not in st["open"] and st["z"] >= history:
                if not st["open"]:
                    # long-idle: `history` zeros closed, nothing pending
                    return None, None, rows
                w0 = min(int(x) for x in st["open"])  # aligned
                continue
            n = st["open"].pop(k, 0)
            h = sorted(st["hist"])
            med = (h[len(h) // 2] if len(h) % 2
                   else (h[len(h) // 2 - 1] + h[len(h) // 2]) // 2) \
                if h else 0
            dev = 1000 * abs(n - med) // max(med, 1)
            rows.append({
                key_col: key[0],
                "window_start": pd.Timestamp(w0, unit="ms"),
                "n_events": n, "baseline_median": med,
                "dev_permille": dev,
                "is_alert": (len(st["hist"]) >= min_history
                             and dev > threshold_permille)})
            if n > 0:
                st["hist"] = (st["hist"] + [n])[-history:]
                st["z"] = 0
            else:
                st["z"] += 1
            w0 += win_ms
        st["f"] = w0
        if w0 is None:
            # a fresh key whose every arrival was late never opened a
            # window; keeping (and never timing out) its empty state
            # would leak a zombie row
            return None, None, rows
        # wake at the next close even with no arrivals — this is what
        # lets silent windows synthesize their zeros
        return st, w0 + win_ms, rows

    return event_time_fold(
        stream_df.filter(F.col(key_col).isNotNull()).select(key_col, ts_col),
        [key_col], ts_col, grace, out_fields,
        lambda: {"open": {}, "hist": [], "f": None, "z": 0}, step)
