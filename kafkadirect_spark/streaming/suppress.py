"""Suppression — emit only final results.

Reference: kstream/Suppressed.java:40,52,76 and the eviction loop in
kstream/internals/suppress/KTableSuppressProcessor.java:71-110: buffer
updates per key, forward only when the window closes (stream time ≥
window end + grace) or on a wall-clock rate limit.

Spark mapping (SURVEY.md §2.6): ``untilWindowCloses`` IS append output
mode on a watermarked windowed aggregation — state is emitted exactly
once, when the watermark passes the window end.  ``untilTimeLimit``
maps to the trigger interval: updates within one trigger coalesce in
the state store and emit at most once per interval.

Note: checkpoint *recovery* (exactly-once restart) requires a durable
sink (parquet/Delta/Kafka); Spark's ``memory`` sink — used in tests —
accepts a checkpoint for state but refuses to restart from it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from kafkadirect_spark.streaming.util import epoch_ms, event_time_fold
from kafkadirect_spark.streaming.util import interval_ms as _parse_duration_ms


def until_window_closes(windowed_agg: DataFrame, path_or_format: str = "memory",
                        query_name: str = "suppressed",
                        checkpoint: str | None = None) -> DataStreamWriter:
    """Suppressed.untilWindowCloses(unbounded()) — KTableSuppressProcessor
    .java:71-110.  Returns a writer in **append** mode: each window's
    final aggregate is emitted exactly once, after the watermark
    (grace) passes its end.  The upstream aggregation must carry
    ``withWatermark`` (Windows(..., grace=...) does this)."""
    w = windowed_agg.writeStream.outputMode("append").queryName(query_name)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.format(path_or_format)


def until_time_limit(windowed_agg: DataFrame, interval: str,
                     query_name: str = "rate_limited",
                     checkpoint: str | None = None) -> DataStreamWriter:
    """Suppressed.untilTimeLimit(d, maxRecords/maxBytes) — rate-limit
    emission: **update** mode + processingTime trigger ``interval``;
    repeated updates to one key within the interval coalesce in the
    state store (the reference's buffer) and emit once per trigger."""
    w = (windowed_agg.writeStream.outputMode("update")
         .trigger(processingTime=interval).queryName(query_name))
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.format("memory")


class BufferFullError(RuntimeError):
    """SHUT_DOWN full-buffer strategy — Suppressed.BufferConfig
    .shutDownWhenFull() (Suppressed.java:134-148): adding a record to a
    full suppression buffer stops the topology instead of emitting an
    unfinalized result early."""


@dataclass(frozen=True)
class BufferConfig:
    """Suppressed.BufferConfig — Suppressed.java:134-148.

    ``max_records`` / ``max_bytes``: buffer bounds (None = unbounded,
    BufferConfig.unbounded()).  ``on_full``: what to do when an insert
    exceeds a bound — ``"emit"`` (emitEarlyWhenFull: evict + forward the
    earliest-buffered entries until back under the bound) or
    ``"shutdown"`` (shutDownWhenFull: raise BufferFullError, the
    StreamThread-fatal path).  Note untilWindowCloses only accepts a
    STRICT config in the reference (unbounded or shutdown) — emitting
    early would break the "final results only" contract; the adapter
    below enforces the same.
    """
    max_records: int | None = None
    max_bytes: int | None = None
    on_full: str = "emit"

    def __post_init__(self):
        if self.on_full not in ("emit", "shutdown"):
            raise ValueError("on_full must be 'emit' or 'shutdown'")

    @property
    def strict(self) -> bool:
        """StrictBufferConfig: never emits early (Suppressed.java:76)."""
        return (self.max_records is None and self.max_bytes is None) \
            or self.on_full == "shutdown"


def _entry_bytes(key: tuple, value: dict) -> int:
    """Deterministic stand-in for the reference's serialized key+value
    byte accounting (InMemoryTimeOrderedKeyValueBuffer.java
    computeRecordSize): string length of every field."""
    return sum(len(str(v)) for v in (*key, *value.values()))


class SuppressionBuffer:
    """Time-ordered key-value suppression buffer — the Python mirror of
    InMemoryTimeOrderedKeyValueBuffer.java driving
    KTableSuppressProcessor.java:71-110.

    Entries are keyed (latest update per key wins — an update re-times
    the entry, as put() re-inserts at the new record time) and ordered
    by buffer time for eviction.  Two emit conditions:

    - ``emit_after=None`` (untilWindowCloses): an entry emits when
      observed stream time passes ``end_col`` + ``grace`` — the final
      result, exactly once.
    - ``emit_after=timedelta`` (untilTimeLimit): an entry emits when
      stream time passes its buffer time + the limit.

    Bounds are enforced on every insert (the reference's
    enforceConstraints loop): over ``max_records``/``max_bytes`` the
    EMIT strategy force-evicts earliest-first, SHUT_DOWN raises.
    The buffer is bounded by construction, so holding it in task/driver
    memory is the same contract as the reference's in-memory buffer.
    """

    def __init__(
        self,
        key_cols: list[str],
        end_col: str = "end",
        grace: timedelta = timedelta(0),
        emit_after: timedelta | None = None,
        config: BufferConfig = BufferConfig(),
    ):
        if emit_after is None and not config.strict:
            raise ValueError(
                "untilWindowCloses requires a strict buffer config "
                "(unbounded or shutdown-when-full) — emitting early would "
                "break final-results semantics (Suppressed.java:76)")
        self.key_cols = list(key_cols)
        self.end_col = end_col
        self.grace = grace
        self.emit_after = emit_after
        self.config = config
        self._entries: dict[tuple, tuple[datetime, dict]] = {}
        self._bytes = 0
        self.stream_time: datetime | None = None

    def _emit_due(self, entry_time: datetime, value: dict) -> bool:
        if self.stream_time is None:
            return False
        if self.emit_after is None:
            return value[self.end_col] + self.grace <= self.stream_time
        return entry_time + self.emit_after <= self.stream_time

    def _pop(self, key: tuple) -> dict:
        t, value = self._entries.pop(key)
        self._bytes -= _entry_bytes(key, value)
        return value

    def put_batch(self, rows: list[dict], ts_col: str) -> list[dict]:
        """Feed one microbatch of (updated) aggregate rows; returns the
        rows emitted by this step: time-due evictions first (the
        processor's eviction loop runs on every record), then any
        forced early emissions from the bound."""
        emitted: list[dict] = []
        for row in rows:
            ts = row[ts_col]
            if self.stream_time is None or ts > self.stream_time:
                self.stream_time = ts
            key = tuple(row[c] for c in self.key_cols)
            value = {c: v for c, v in row.items()}
            if key in self._entries:
                self._pop(key)  # re-time + re-value (latest wins)
            self._entries[key] = (ts, value)
            self._bytes += _entry_bytes(key, value)
            emitted.extend(self._evict_due())
            emitted.extend(self._enforce_bounds())
        emitted.extend(self._evict_due())
        return emitted

    def _evict_due(self) -> list[dict]:
        out = []
        for key, (t, value) in sorted(self._entries.items(),
                                      key=lambda kv: kv[1][0]):
            if self._emit_due(t, value):
                out.append(self._pop(key))
        return out

    def _over_bound(self) -> bool:
        c = self.config
        return ((c.max_records is not None and len(self._entries) > c.max_records)
                or (c.max_bytes is not None and self._bytes > c.max_bytes))

    def _enforce_bounds(self) -> list[dict]:
        out = []
        while self._over_bound():
            if self.config.on_full == "shutdown":
                raise BufferFullError(
                    f"suppression buffer full ({len(self._entries)} records, "
                    f"{self._bytes} bytes) with shutDownWhenFull")
            oldest = min(self._entries, key=lambda k: self._entries[k][0])
            out.append(self._pop(oldest))
        return out

    def __len__(self) -> int:
        return len(self._entries)


def suppress_bounded(
    windowed_agg: DataFrame,
    buffer: SuppressionBuffer,
    ts_col: str,
    sink: Callable[[list[dict], int], None],
    checkpoint: str | None = None,
):
    """Streaming adapter: drive a bounded SuppressionBuffer from an
    update-mode windowed aggregation via foreachBatch — per-key updates
    coalesce in the buffer, finals (or forced early emissions) reach
    ``sink(rows, batch_id)``.  A SHUT_DOWN-full buffer propagates
    BufferFullError and fails the query, matching the reference's
    fatal StreamThread shutdown.

    The buffer lives in DRIVER memory, so an explicit bound
    (``max_records`` or ``max_bytes``) is REQUIRED — an unbounded
    driver buffer holds O(open windows × keys) and dies at scale.  For
    unbounded final-results semantics use ``until_window_closes``
    (native append mode, executor-side state); for bounded semantics
    with executor-side state use ``suppress_bounded_distributed``.

    ``ts_col`` must carry EVENT time (add ``F.max(ts)`` to the
    aggregation), not the window end — stream time is "max record
    timestamp observed" (KTableSuppressProcessor observedStreamTime);
    keying it off the window end would close every window the moment
    its first update arrives."""
    cfg = buffer.config
    if cfg.max_records is None and cfg.max_bytes is None:
        raise ValueError(
            "suppress_bounded holds its buffer on the driver and requires "
            "max_records or max_bytes; use until_window_closes (native "
            "append mode) or suppress_bounded_distributed for unbounded "
            "state")

    def per_batch(batch: DataFrame, batch_id: int) -> None:
        rows = [r.asDict(recursive=True) for r in batch.collect()]
        sink(buffer.put_batch(rows, ts_col), batch_id)

    w = windowed_agg.writeStream.outputMode("update").foreachBatch(per_batch)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


# ---------------------------------------------------------------------------
# Executor-side bounded suppression.
# ---------------------------------------------------------------------------

_AGG_OPS = ("count", "sum", "max", "min")


def suppress_bounded_distributed(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    window: str,
    agg: dict[str, str | tuple[str, str]],
    grace: str = "0 seconds",
    emit_after: timedelta | None = None,
    # Strict default: bounded + shutdown-when-full is valid for the
    # default emit_after=None (untilWindowCloses) path; an emit-on-full
    # default would break final-results semantics and raise.
    config: BufferConfig = BufferConfig(max_records=100_000,
                                        on_full="shutdown"),
    n_buckets: int = 32,
) -> DataFrame:
    """Bounded suppression with EXECUTOR-side state — the scale path
    for Suppressed.BufferConfig (Suppressed.java:134-148) semantics.

    Spark cannot chain a stateful operator after a streaming
    aggregation, so this folds the tumbling-window aggregate INTO the
    suppression buffer: raw keyed events go through
    ``applyInPandasWithState`` grouped by ``hash(key) % n_buckets``.
    Each bucket's state is one time-ordered buffer — the analogue of
    the reference's per-task InMemoryTimeOrderedKeyValueBuffer, so
    bounds and observed stream time are per bucket exactly as they are
    per task there (KTableSuppressProcessor.java:71-110).

    - data arrival: merge rows into (key, window) entries, evict
      entries due vs the bucket's observed stream time;
    - watermark advance: an event-time timeout fires and evicts
      entries due vs the watermark (so idle buckets still emit);
    - over ``max_records``/``max_bytes``: EMIT force-evicts
      earliest-first, SHUT_DOWN raises BufferFullError in the task —
      the query fails, the reference's fatal StreamThread path.

    ``agg`` maps output column → "count" | ("sum"|"max"|"min", col);
    counts come back as long, the rest as double.  Returns a streaming
    DataFrame (append semantics) with columns
    ``*key_cols, window_start, window_end, *agg`` — attach a writer.

    Key columns must be JSON-representable (string/int/bool): they
    travel through the state codec.
    """
    import json as _json

    import pandas as pd

    for spec in agg.values():
        op = spec if isinstance(spec, str) else spec[0]
        if op not in _AGG_OPS:
            raise ValueError(f"unsupported agg op {op!r}; use {_AGG_OPS}")
    size_ms = _parse_duration_ms(window)
    grace_ms = _parse_duration_ms(grace)
    emit_after_ms = (None if emit_after is None
                     else int(emit_after.total_seconds() * 1000))
    if emit_after_ms is None and not config.strict:
        raise ValueError(
            "untilWindowCloses requires a strict buffer config "
            "(Suppressed.java:76)")
    max_records, max_bytes, on_full = \
        config.max_records, config.max_bytes, config.on_full
    keys, aggs = list(key_cols), dict(agg)

    out_fields = ", ".join(
        [f"`{stream_df.schema[k].name}` "
         f"{stream_df.schema[k].dataType.simpleString()}" for k in keys]
        + ["window_start timestamp", "window_end timestamp"]
        + [f"`{c}` {'bigint' if spec == 'count' else 'double'}"
           for c, spec in aggs.items()])

    def _merge(cur: dict, row) -> dict:
        for c, spec in aggs.items():
            if spec == "count":
                cur[c] = cur.get(c, 0) + 1
            else:
                op, col = spec
                v = float(row[col])
                if c not in cur:
                    cur[c] = v
                elif op == "sum":
                    cur[c] += v
                elif op == "max":
                    cur[c] = max(cur[c], v)
                else:
                    cur[c] = min(cur[c], v)
        return cur

    def _due_ms(e: dict) -> int:
        if emit_after_ms is None:
            return e["we"] + grace_ms
        return e["t"] + emit_after_ms

    def _entry_size(e: dict) -> int:
        # same accounting as the driver-side buffer, one definition
        return _entry_bytes(tuple(e["k"]), e["agg"])

    def step(key, st, pdf, wm):
        entries, out = st["e"], []
        # Running byte accounting (only when the bound needs it):
        # recomputing the total per insert would be O(rows × entries).
        sizes = ({ek: _entry_size(e) for ek, e in entries.items()}
                 if max_bytes is not None else {})
        total = sum(sizes.values())

        def pop(ek):
            nonlocal total
            if max_bytes is not None:
                total -= sizes.pop(ek)
            return entries.pop(ek)

        def evict_due(clock_ms):
            if clock_ms is None:
                return
            for ek in sorted(entries, key=lambda k: entries[k]["t"]):
                if _due_ms(entries[ek]) <= clock_ms:
                    out.append(pop(ek))

        if pdf is None:
            # The watermark is already delayed by grace (withWatermark),
            # but _due_ms adds grace too (it compares against raw
            # observed stream time on the data path).  Reconstruct
            # stream time so an idle bucket emits at end + grace, not
            # end + 2x grace.
            evict_due(wm + grace_ms)
        else:
            # sort once across all arrow chunks — record order must be
            # the trigger's event-time order, not per-chunk order
            pdf = pdf.sort_values(ts_col, kind="stable")
            for ts_ms, row in zip(epoch_ms(pdf[ts_col]).tolist(),
                                  pdf.itertuples(index=False)):
                # by column name: namedtuple fields rename columns that
                # are not identifiers ('class', 'my key')
                rd = dict(zip(pdf.columns, row))
                if st["time"] is None or ts_ms > st["time"]:
                    st["time"] = ts_ms
                ws = (ts_ms // size_ms) * size_ms
                kv = [rd[k] for k in keys]
                ek = _json.dumps([*kv, ws])
                e = entries.get(ek)
                if e is None:
                    e = {"k": kv, "ws": ws, "we": ws + size_ms,
                         "t": ts_ms, "agg": {}}
                    entries[ek] = e
                else:
                    e["t"] = ts_ms  # re-time: latest update wins
                e["agg"] = _merge(e["agg"], rd)
                if max_bytes is not None:
                    total -= sizes.get(ek, 0)
                    sizes[ek] = _entry_size(e)
                    total += sizes[ek]
                while ((max_records is not None
                        and len(entries) > max_records)
                       or (max_bytes is not None
                           and total > max_bytes)):
                    if on_full == "shutdown":
                        raise BufferFullError(
                            f"suppression buffer full "
                            f"({len(entries)} records) with "
                            "shutDownWhenFull")
                    oldest = min(entries,
                                 key=lambda k: entries[k]["t"])
                    out.append(pop(oldest))
            # One eviction sweep per batch (emission is batch-granular
            # anyway): a per-row sweep would rescan the whole buffer
            # for every input row — O(rows x entries log entries).
            evict_due(st["time"])

        rows = [{**dict(zip(keys, e["k"])),
                 "window_start": pd.Timestamp(e["ws"], unit="ms"),
                 "window_end": pd.Timestamp(e["we"], unit="ms"),
                 **{c: e["agg"].get(c) for c in aggs}} for e in out]
        if not entries:
            return None, None, rows
        # Timeouts fire on the grace-delayed watermark clock, so
        # translate the stream-time due back by grace (see the
        # timeout branch for the inverse).
        return st, min(_due_ms(e) for e in entries.values()) - grace_ms, rows

    bucket = F.pmod(F.hash(*keys), F.lit(n_buckets))
    return event_time_fold(stream_df.withColumn("__bucket", bucket),
                           ["__bucket"], ts_col, grace, out_fields,
                           lambda: {"e": {}, "time": None}, step)
