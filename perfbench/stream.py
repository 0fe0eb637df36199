"""``stream_alerts``, the file-stream workload, and the Yahoo drains
of its traced run.  Both queries read stamped parquet files through
``sources.stream.stream_from_dir`` and end in a ``foreachBatch`` sink;
they differ in the query between.

- ``stream_alerts``: ``streaming.anomaly.streaming_rate_alerts``, the
  ``applyInPandasWithState`` path, in append mode.  One run drains a
  pre-written backlog (closed loop, ``ops_per_s``) and then keeps the
  same query running while a generator thread writes files on a fixed
  schedule (open loop, latency).
- Yahoo: the Yahoo streaming benchmark through the core DSL (filter
  views, ``join_table`` campaigns, tumbling ``windowed_by`` count) in
  update mode, drained over the same files in the traced run only."""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

import numpy as np

from perfbench import data
from perfbench.measure import exec_metrics, progress_metrics, union_ms


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


class StreamQuery:
    """A streaming query over ``<stage_dir>/src`` with a ``foreachBatch``
    sink.  Subclasses set ``name`` and give ``build`` and
    ``sink_frame``."""
    cap = 8                       # files per trigger
    output_mode = "update"

    @property
    def spark(self):
        return self.ctx.spark

    def __init__(self, ctx, stage_dir: str | None = None):
        self.ctx, self.stage_dir = ctx, stage_dir

    def build(self, src: str):
        raise NotImplementedError

    def sink_frame(self, df):
        """The columns the sink collects from each micro-batch."""
        raise NotImplementedError

    def start(self, src: str, name: str, log: list,
              available_now: bool = False):
        """Start the query on ``src``; its ``foreachBatch`` sink appends
        (batch id, start ns, end ns, rows) to ``log``."""
        tr = self.ctx.tracer
        with tr.span(f"{self.name}.build", op=name):
            out = self.build(src)

        def sink(df, batch_id):
            t0 = time.time_ns()
            rows = self.sink_frame(df).collect()
            t1 = time.time_ns()
            log.append((batch_id, t0, t1, rows))
            tr.record("sink.batch", t0 / 1e9, t1 / 1e9, op=f"batch-{batch_id}")

        w = (out.writeStream.outputMode(self.output_mode).foreachBatch(sink)
             .option("checkpointLocation",
                     os.path.join(self.ctx.work, "ckpt", name)))
        w = w.trigger(availableNow=True) if available_now else w
        with tr.span("streaming.start", op=name):
            return w.start()

    def drain(self, src: str, name: str) -> tuple[float, list]:
        """Closed loop: drain ``src`` to the end with the files-per-
        trigger cap.  Returns records/s over the triggers that read
        input, and the sink log."""
        log: list = []
        q = self.start(src, name, log, available_now=True)
        q.awaitTermination(120)
        if q.isActive or q.exception() is not None:
            q.stop()
            raise RuntimeError(f"drain {name} failed: {q.exception()}")
        busy = [p for p in map(_json, q.recentProgress)
                if p["numInputRows"] > 0]
        rows = sum(p["numInputRows"] for p in busy)
        ms = sum(p["durationMs"]["triggerExecution"] for p in busy)
        return rows / (ms / 1000.0), log


def _json(progress) -> dict:
    return json.loads(progress.json) if hasattr(progress, "json") else progress


def _rows_done(q) -> int:
    return sum(_json(p)["numInputRows"] for p in q.recentProgress)


class YahooDrain(StreamQuery):
    """The Yahoo topology, drained over ``stream_alerts``' files in its
    traced run."""
    name = "yahoo"
    window_us = 10_000_000

    def build(self, src):
        from pyspark.sql import functions as F

        from kafkadirect_spark.core import Table, Windows
        from kafkadirect_spark.sources.stream import stream_from_dir
        tr = self.ctx.tracer
        with tr.span("sources.stream_from_dir"):
            ev = stream_from_dir(self.spark, src, data.STREAM_SCHEMA,
                                 key="ad_id", ts="ts",
                                 max_files_per_trigger=self.cap)
        with tr.span("plans.build"):
            campaigns = Table(self.spark.read.schema(
                "ad_id long, campaign_id long").parquet(
                os.path.join(self.stage_dir, "campaigns.parquet")),
                key="ad_id")
            return (ev.filter(F.col("event_type") == "view")
                    .select("ad_id", "ts", "gen_ns")
                    .join_table(campaigns, on="ad_id")
                    .group_by("campaign_id")
                    .windowed_by(Windows.tumbling("10 seconds",
                                                  grace="5 seconds"))
                    .aggregate(F.count(F.lit(1)).alias("views"),
                               F.max("gen_ns").alias("gen_ns")))

    def sink_frame(self, df):
        from pyspark.sql import functions as F
        return df.select("campaign_id",
                         F.unix_micros("window.start").alias("w_us"),
                         "views")

    def check_counts(self, log: list, src: str) -> tuple[int, int, list]:
        """The last update of every (campaign, window) must equal the
        DuckDB count over every file in ``src``."""
        import duckdb
        final: dict = {}
        for _, _, _, rows in sorted(log, key=lambda e: e[0]):
            for r in rows:
                final[(r["campaign_id"], r["w_us"])] = r["views"]
        want = dict(((c, w), n) for c, w, n in duckdb.sql(f"""
            SELECT c.campaign_id,
                   epoch_us(e.ts) // {self.window_us} * {self.window_us},
                   count(*)
            FROM read_parquet('{src}/*.parquet') e
            JOIN read_parquet('{self.stage_dir}/campaigns.parquet') c
              USING (ad_id)
            WHERE e.event_type = 'view' GROUP BY ALL""").fetchall())
        bad = [k for k in set(final) | set(want)
               if final.get(k) != want.get(k)]
        notes = ([f"{len(bad)} of {len(want)} (campaign, window) counts "
                  f"differ from DuckDB, e.g. {bad[0]}"] if bad else [])
        return len(want), len(bad), notes


class StreamAlerts(StreamQuery):
    name = "stream_alerts"
    unit = "records/s"
    tail_cap = 90.0
    output_mode = "append"
    # Backlog files and their rows, open-loop rows per file and
    # interval, event-time span per file (one 1-minute window) and keys.
    backlog_files, backlog_rows = 24, 2000
    ol_rows, ol_interval_s = 1000, 0.75
    span_us = 60_000_000
    window_us = 60_000_000
    n_users = 100

    def __init__(self, ctx):
        super().__init__(ctx)
        self.backlog_spec = data.StreamSpec(self.backlog_rows, self.span_us,
                                            self.n_users)
        self.ol_spec = data.StreamSpec(self.ol_rows, self.span_us,
                                       self.n_users)
        self.sink_log: list[tuple] = []   # (batch id, start ns, end ns, rows)
        self.progress: list[dict] = []
        self.query = self.gen = None
        self.extra_layers: dict = {}

    def build(self, src):
        from kafkadirect_spark.sources.stream import stream_from_dir
        from kafkadirect_spark.streaming.anomaly import streaming_rate_alerts
        tr = self.ctx.tracer
        with tr.span("sources.stream_from_dir"):
            ev = stream_from_dir(self.spark, src, data.STREAM_SCHEMA,
                                 max_files_per_trigger=self.cap)
        with tr.span("streaming.streaming_rate_alerts"):
            return streaming_rate_alerts(ev.df, "user_id", "ts",
                                         window="1 minute")

    def sink_frame(self, df):
        from pyspark.sql import functions as F
        return df.select("user_id",
                         F.unix_micros("window_start").alias("w_us"),
                         "n_events")

    # -- set-up -------------------------------------------------------------

    def stage(self, out_dir: str) -> None:
        """The backlog the measured query reads first: one warm-up
        trigger's worth, then the drain."""
        seed = self.ctx.seed
        data.write_backlog(self.backlog_spec, os.path.join(out_dir, "src"),
                           seed, 0, self.backlog_files)
        data.write_campaigns(os.path.join(out_dir, "campaigns.parquet"))
        self.stage_dir = out_dir

    def _wait_rows(self, q, rows: int, what: str) -> None:
        t0 = time.perf_counter()
        while _rows_done(q) < rows:
            if not q.isActive:
                raise RuntimeError(f"query ended during {what}: "
                                   f"{q.exception()}")
            if time.perf_counter() - t0 > 120:
                raise RuntimeError(f"{what} did not finish")
            time.sleep(0.02)

    def warm_up(self) -> None:
        """The first trigger of the measured query: the oldest ``cap``
        backlog files, read while the JIT, the Python workers and the
        state stores start."""
        self.query = self.start(os.path.join(self.stage_dir, "src"), "main",
                                self.sink_log)
        self._wait_rows(self.query, self.cap * self.backlog_rows, "warm-up")

    # -- timed window -----------------------------------------------------------

    def measure(self) -> dict:
        q, src = self.query, os.path.join(self.stage_dir, "src")
        backlog = self.backlog_files * self.backlog_rows
        warm_rows = self.cap * self.backlog_rows
        t_start = time.perf_counter()
        # Closed loop over the rest of the backlog.  The generator starts
        # as the last backlog trigger begins, so the trigger after it
        # finds open-loop files waiting instead of running idle.
        with self.ctx.tracer.span("drain", op="main"):
            self._wait_rows(q, backlog - warm_rows, "backlog drain")
        spent = time.perf_counter() - t_start
        ol_s = max(self.ctx.seconds - spent, 0.5 * self.ctx.seconds)
        self.gen = data.OpenLoopGenerator(
            self.ol_spec, src, self.ctx.seed, self.backlog_files,
            int(ol_s / self.ol_interval_s), self.ol_interval_s)
        with self.ctx.tracer.span("open_loop", op="main"):
            self.gen.start()
            self.gen.join(ol_s + 60)
        if self.gen.is_alive() or self.gen.error is not None:
            self.gen.stop()
            raise RuntimeError(f"generator failed: {self.gen.error}")
        written = len(self.gen.log)
        self._wait_rows(q, backlog + written * self.ol_rows, "final drain")
        q.stop()
        self.progress = list(map(_json, q.recentProgress))
        if q.exception() is not None:
            raise RuntimeError(f"query failed: {q.exception()}")
        # Only micro-batches that finished count: stop() can cut one
        # short after its sink already ran.
        finished = {p["batchId"] for p in self.progress}
        self.sink_log = [e for e in self.sink_log if e[0] in finished]

        # Drain triggers: those after the warm-up one that read backlog.
        drain, done = [], 0
        for p in self.progress:
            if warm_rows <= done < backlog and p["numInputRows"] > 0:
                drain.append(p)
            done += p["numInputRows"]
        drained = sum(p["numInputRows"] for p in drain)
        if drained != backlog - warm_rows:
            raise RuntimeError(f"drain read {drained} records, expected "
                               f"{backlog - warm_rows}")
        ops_per_s = drained / (sum(p["durationMs"]["triggerExecution"]
                                   for p in drain) / 1000.0)
        n_drain_batches = drain[-1]["batchId"] + 1

        attempted = backlog + written * self.ol_rows
        failed, notes = self.backlog_growth()
        lats = self.latencies(n_drain_batches)
        trig = len({b for b, *_ in self.sink_log if b >= n_drain_batches})
        return {"latencies_ms": lats, "ops_per_s": ops_per_s,
                "attempted": attempted, "failed": failed, "notes": notes,
                "note": (f"drain {drained} records in {len(drain)} triggers; "
                         f"open loop {written} files over {ol_s:.1f} s, "
                         f"samples are result rows of {trig} triggers; "
                         f"{self.growth_note}")}

    def backlog_growth(self) -> tuple[int, list[str]]:
        """Failed records and notes if the backlog grew over the open
        loop: the files waiting at its last trigger exceed those waiting
        at its first by more than one trigger takes in at the offered
        rate (median trigger time / file interval).  At a sustained rate
        the two counts match within that; past capacity the difference
        grows with every trigger."""
        gen_end = self.gen.log[-1][2]
        ol = [(n, ms) for start, n, ms in self.waiting_files()
              if start <= gen_end]
        if len(ol) < 2:
            self.growth_note = f"{len(ol)} open-loop triggers"
            return self.ol_rows * len(self.gen.log), [
                f"only {len(ol)} trigger(s) during the open loop: "
                f"cannot tell whether the backlog grew"]
        intake = (sorted(ms for _, ms in ol)[len(ol) // 2] / 1000.0
                  / self.ol_interval_s)
        grew = ol[-1][0] - ol[0][0]
        self.growth_note = (f"{ol[0][0]} then {ol[-1][0]} files waiting at "
                            f"the first and last of {len(ol)} open-loop "
                            f"triggers (growth limit {intake:.1f})")
        if grew <= intake:
            return 0, []
        return grew * self.ol_rows, [f"backlog grew: {self.growth_note}"]

    def latencies(self, first_batch: int) -> list[float]:
        """Arrival of each result row minus the creation stamp of the
        newest event of its (user, window), for rows of open-loop
        windows."""
        newest = self._newest_stamps()
        return [(t1 - newest[(r["user_id"], r["w_us"])]) / 1e6
                for b, _, t1, rows in self.sink_log if b >= first_batch
                for r in rows if (r["user_id"], r["w_us"]) in newest]

    def _newest_stamps(self) -> dict:
        """(user, window start µs) -> newest creation stamp, from the
        generator's own record of what it wrote."""
        out = {}
        for i, table in self.gen.tables.items():
            users = table.column("user_id").to_numpy()
            stamps = table.column("gen_ns").to_numpy()
            w_us = data.STREAM_T0_US + i * self.span_us
            order = np.lexsort((stamps, users))
            last = np.r_[users[order][1:] != users[order][:-1], True]
            for u, s in zip(users[order][last], stamps[order][last]):
                out[(int(u), w_us)] = int(s)
        return out

    def waiting_files(self) -> list[tuple[float, int, float]]:
        """(start ns, files written but not yet read, trigger ms) for
        each trigger of the open loop, from the progress and the
        generator's log."""
        backlog = self.backlog_files * self.backlog_rows
        landed = sorted(t for _, _, t in self.gen.log)
        out, done = [], 0
        for p in self.progress:
            if done >= backlog:
                start_ns = _epoch_ms(p["timestamp"]) * 1e6
                written = int(np.searchsorted(landed, start_ns, "right"))
                out.append((start_ns,
                            written - (done - backlog) // self.ol_rows,
                            p["durationMs"]["triggerExecution"]))
            done += p["numInputRows"]
        return out

    # -- correctness ----------------------------------------------------------------

    def check(self) -> tuple[int, int, list[str]]:
        """Every window the final watermark closed must carry the DuckDB
        count; windows with no events may only appear as zero rows."""
        import duckdb
        wm_us = max(_epoch_ms(p["eventTime"]["watermark"])
                    for p in self.progress if "watermark" in p["eventTime"]
                    ) * 1000
        got = {}
        for _, _, _, rows in self.sink_log:
            for r in rows:
                got[(r["user_id"], r["w_us"])] = r["n_events"]
        src = os.path.join(self.stage_dir, "src")
        want = dict(((u, w), n) for u, w, n in duckdb.sql(f"""
            SELECT user_id,
                   epoch_us(ts) // {self.window_us} * {self.window_us},
                   count(*)
            FROM read_parquet('{src}/*.parquet') GROUP BY ALL""").fetchall())
        bad = []
        for k, n in want.items():
            end = k[1] + self.window_us
            if end < wm_us and got.get(k) != n:
                bad.append(k)
            elif end == wm_us and k in got and got[k] != n:
                bad.append(k)
        for k, n in got.items():
            if k[1] + self.window_us > wm_us or (n == 0 and k in want) or (
                    n and k not in want):
                bad.append(k)
        closed = sum(1 for k in want if k[1] + self.window_us < wm_us)
        notes = ([f"{len(bad)} (user, window) rows differ from DuckDB, "
                  f"e.g. {bad[0]}"] if bad else [])
        if closed == 0:
            notes.append("no window closed")
            bad.append(None)
        return closed, len(bad), notes

    # -- traced run -------------------------------------------------------------------

    def layers(self, jobs: dict) -> dict:
        """Per-trigger means over the triggers after the warm-up one;
        Spark jobs count for the trigger they ran inside."""
        warm_rows = self.cap * self.backlog_rows
        measured, done = [], 0
        for p in self.progress:
            if done >= warm_rows:
                measured.append(p)
            done += p["numInputRows"]
        busy = [p for p in measured if p["numInputRows"] > 0]
        per_trigger = []
        for p in busy:
            t0 = _epoch_ms(p["timestamp"])
            t1 = t0 + p["durationMs"]["triggerExecution"]
            per_trigger.append([j for j in jobs.values() if j["t1"] is not None
                                and t0 <= j["t0"] and j["t1"] <= t1])
        out = progress_metrics(measured)
        out.update(exec_metrics([j for js in per_trigger for j in js],
                                len(busy)))
        # The batch-side layers as they appear in a stream: the DSL
        # build of the measured query, Catalyst planning of each
        # micro-batch, and trigger time outside any job.
        out["plans.build_ms"] = sum(
            1000.0 * (s["end"] - s["start"]) for s in self.ctx.tracer.spans
            if s["name"] == f"{self.name}.build" and s["op"] == "main")
        out["catalyst.plan_ms"] = out["streaming.query_planning_ms"]
        between = [p["durationMs"]["triggerExecution"]
                   - union_ms([(j["t0"], j["t1"]) for j in js])
                   for p, js in zip(busy, per_trigger)]
        out["exec.between_jobs_ms"] = (sum(between) / len(between)
                                       if between else 0.0)
        waits = [n for _, n, _ in self.waiting_files()]
        out["sources.backlog_files"] = (sum(waits) / len(waits)
                                        if waits else 0.0)
        out["gen.late_ms"] = float(np.mean(
            [(t - due) / 1e6 for _, due, t in self.gen.log]))
        ids = {p["batchId"] for p in measured}
        sinks = [e for e in self.sink_log if e[0] in ids]
        n = max(len(sinks), 1)
        out["sink.batch_ms"] = sum((e - s) / 1e6 for _, s, e, _ in sinks) / n
        out["sink.rows"] = sum(len(r) for *_, r in sinks) / n
        out.update(self.extra_layers)
        return out

    # The traced run also drains the Yahoo topology over the same files,
    # on this session and on a single-threaded one.

    def traced_extras(self) -> tuple[int, int, list]:
        y = YahooDrain(self.ctx, self.stage_dir)
        src = os.path.join(self.stage_dir, "src")
        y.drain(src, "yahoo-warm")
        rate, log = y.drain(src, "yahoo")
        self.extra_layers["yahoo.drain_ops_per_s"] = rate
        return y.check_counts(log, src)

    def single_thread_baseline(self) -> float:
        """One Yahoo drain of the same files on a ``local[1]`` session."""
        y = YahooDrain(self.ctx, self.stage_dir)
        return y.drain(os.path.join(self.stage_dir, "src"), "local1")[0]
