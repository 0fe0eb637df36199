"""Shared helpers for the streaming stateful operators."""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql.streaming.state import GroupStateTimeout

_UNIT_MS = {"millisecond": 1, "milli": 1, "ms": 1,
            "second": 1000, "sec": 1000, "s": 1000,
            "minute": 60_000, "min": 60_000, "m": 60_000,
            "hour": 3_600_000, "h": 3_600_000,
            "day": 86_400_000, "d": 86_400_000,
            "week": 604_800_000, "w": 604_800_000}


def interval_ms(spec: str) -> int:
    """Duration string → milliseconds, accepting the same forms
    ``withWatermark`` / ``F.window`` do: single ('30 seconds',
    '500 millis', '1 week') and compound ('1 hour 30 minutes')
    quantity-unit pairs.  Raises ValueError naming the supported units
    on anything else — a bad spec should fail at query BUILD time with
    a message, not as a KeyError inside a stateful operator."""
    parts = spec.strip().split()
    if not parts or len(parts) % 2:
        raise ValueError(
            f"bad duration {spec!r}: expected '<n> <unit>' pairs, e.g. "
            "'30 seconds', '1 hour 30 minutes'")
    total = 0
    for qty, unit in zip(parts[::2], parts[1::2]):
        u = unit.lower()
        # exact units win before plural-stripping ('ms' must not strip
        # to 'm' = minute); strip 's' only when the singular is known
        if u not in _UNIT_MS and u.endswith("s") and u[:-1] in _UNIT_MS:
            u = u[:-1]
        if u not in _UNIT_MS:
            raise ValueError(
                f"bad duration {spec!r}: unknown unit {unit!r} "
                f"(supported: week day hour minute second millisecond "
                "and their plurals/abbreviations)")
        try:
            n = int(qty)
        except ValueError:
            raise ValueError(
                f"bad duration {spec!r}: quantity {qty!r} must be an "
                "integer (Spark's interval grammar has no fractions — "
                "use a smaller unit)") from None
        total += n * _UNIT_MS[u]
    return total


def epoch_ms(series):
    """Timestamp series → int64 epoch milliseconds (floor division of
    the nanosecond value), one vectorized pass per call."""
    return series.astype("datetime64[ns]").astype("int64") // 1_000_000


def event_time_fold(df, key_cols: list[str], ts_col: str, grace: str,
                    out_fields: str, init: Callable, step: Callable):
    """The event-time keyed-state skeleton behind this package's custom
    append-mode stateful operators: ``df`` is watermarked on
    ``ts_col`` with delay ``grace``, grouped by ``key_cols`` and run
    through ``applyInPandasWithState`` with an event-time timeout.

    Per key and call, the state is a JSON blob (``init()`` when the key
    has none) and ``step(key, st, pdf, wm)`` folds it: ``pdf`` is the
    trigger's rows for the key (non-empty Arrow chunks concatenated in
    arrival order, unsorted), or None exactly when the call is a timer
    firing; ``wm`` is the current watermark in epoch ms.  ``step``
    returns ``(st, due, rows)``: ``st`` None expires the key
    (``state.remove()``), otherwise it is stored; ``due`` (epoch ms)
    arms the timer at ``max(due, wm + 1)`` and None arms none; ``rows``,
    a list of output-row dicts, is emitted when non-empty."""
    def fn(key, pdf_iter, state):
        import pandas as pd

        st = json.loads(state.get[0]) if state.exists else init()
        wm = state.getCurrentWatermarkMs()
        pdf = None
        if not state.hasTimedOut:
            chunks = list(pdf_iter)
            pdf = pd.concat([c for c in chunks if len(c)] or chunks[:1],
                            ignore_index=True)
        st, due, rows = step(key, st, pdf, wm)
        if st is None:
            state.remove()
        else:
            state.update((json.dumps(st),))
            if due is not None:
                state.setTimeoutTimestamp(max(due, wm + 1))
        if rows:
            yield pd.DataFrame(rows)

    return (df.withWatermark(ts_col, grace)
            .groupBy(*key_cols)
            .applyInPandasWithState(
                fn, out_fields, "state string", "append",
                GroupStateTimeout.EventTimeTimeout))
