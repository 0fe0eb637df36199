"""Structured Streaming slice: file-source microbatches through the
windowed/watermark path (suppression ≙ append mode), stateful
processors (applyInPandasWithState), and foreachBatch retraction.

Mirrors the reference's suppression and processor semantics:
KTableSuppressProcessor.java:71-110, KStreamTransformValues.java,
KTableAggregate.java:72-98.
"""

import os
import shutil
import tempfile
from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kafkadirect_spark.core import Stream, Windows
from kafkadirect_spark.sources.stream import stream_from_dir
from kafkadirect_spark.streaming import (retraction, suppress, table_join,
                                         transform)

KV = "key string, value int, ts timestamp"


def t(s):
    return datetime.fromisoformat(f"2024-01-01 {s}")


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="kds-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_batch(spark, path, rows, n):
    spark.createDataFrame(rows, KV).coalesce(1).write.mode(
        "overwrite").parquet(f"{path}/in/b{n}")


def test_windowed_count_append_mode_suppression(spark, tmpdir):
    """untilWindowCloses: append mode emits a window exactly once, only
    after the watermark passes its end."""
    # batch 0: two records in the 10:00 window; batch 1: a late-ish
    # record that advances stream time far past the window end.
    _write_batch(spark, tmpdir, [("a", 1, t("10:00:10")), ("a", 1, t("10:00:40"))], 0)
    src = stream_from_dir(
        spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    agg = (
        Stream(src.df, key="key", ts="ts")
        .group_by_key()
        .windowed_by(Windows.tumbling("1 minute", grace="30 seconds"))
        .count(name="n")
    )
    q = suppress.until_window_closes(
        agg, "memory", query_name="supp",
        checkpoint=f"{tmpdir}/ckpt").start()
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM supp").count() == 0  # window still open
        _write_batch(spark, tmpdir, [("a", 1, t("10:05:00"))], 1)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM supp").collect()
        assert [(r.key, r.n) for r in rows] == [("a", 2)]  # emitted once, final
    finally:
        q.stop()


def test_process_with_state_streaming_counter(spark, tmpdir):
    """Processor API ≙ applyInPandasWithState: running per-key count
    across microbatches (state survives batch boundaries)."""
    _write_batch(spark, tmpdir, [("x", 1, t("00:00:00")), ("y", 1, t("00:00:01"))], 0)
    _write_batch(spark, tmpdir, [("x", 1, t("00:00:02"))], 1)

    def counter(key, pdfs, state):
        opt = state.getOption
        n = opt[0] if opt else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"key": [key[0]], "n": [n]})

    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    out = transform.process_with_state(
        src.df, ["key"], counter,
        state_schema="n long", output_schema="key string, n long")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("cnt").option("checkpointLocation", f"{tmpdir}/ckpt2").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM cnt").collect()
        final = {}
        for r in rows:  # update mode: last emission per key wins
            final[r.key] = max(r.n, final.get(r.key, 0))
        assert final == {"x": 2, "y": 1}
    finally:
        q.stop()


def test_process_with_state_batch_fallback(spark):
    def counter(key, pdfs, state):
        opt = state.getOption
        n = opt[0] if opt else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"key": [key[0]], "n": [n]})

    df = spark.createDataFrame(
        [("x", 1, t("00:00:00")), ("x", 2, t("00:00:01")), ("y", 3, t("00:00:02"))], KV)
    out = transform.process_with_state(
        df, ["key"], counter, state_schema="n long",
        output_schema="key string, n long")
    assert {(r.key, r.n) for r in out.collect()} == {("x", 2), ("y", 1)}


def test_transform_values_mapinpandas(spark):
    df = spark.createDataFrame([("a", 2, t("00:00:00"))], KV)
    out = transform.transform_values(
        df, lambda pdf: pdf.assign(value=pdf.value * 10)[["key", "value"]],
        schema="key string, value int")
    assert out.first().value == 20


def test_streaming_retraction_reaggregate(spark, tmpdir):
    """KTable groupBy re-agg with retraction: after k1 moves from attr
    x to attr y, x's sum must drop k1's old value."""
    up = "key string, attr string, value int, offset bigint"

    def w(rows, n):
        spark.createDataFrame(rows, up).coalesce(1).write.mode(
            "overwrite").parquet(f"{tmpdir}/in/b{n}")

    w([("k1", "x", 5, 0), ("k2", "x", 3, 1)], 0)
    results = []
    src = spark.readStream.schema(up).option(
        "maxFilesPerTrigger", "1").parquet(f"{tmpdir}/in/*")
    q = retraction.streaming_table_group_aggregate(
        src, key="key", order_by="offset",
        group_exprs=[F.col("attr")],
        aggs=[F.sum("value").alias("total")],
        sink=lambda df, bid: results.append(
            {r.attr: r.total for r in df.collect()}),
        value_cols=["attr", "value"],
        checkpoint=f"{tmpdir}/ckpt3",
    )
    try:
        q.processAllAvailable()
        assert results[-1] == {"x": 8}
        w([("k1", "y", 7, 2)], 1)  # upsert: k1 re-keys x→y
        q.processAllAvailable()
        assert results[-1] == {"x": 3, "y": 7}  # old x:5 retracted
    finally:
        q.stop()


def test_suppress_buffer_final_results_until_window_closes():
    """SuppressScenarioTest 'shouldSupportFinalResults...' shape: per-key
    updates coalesce; the final value emits exactly once, when stream
    time passes window end + grace."""
    from datetime import timedelta
    buf = suppress.SuppressionBuffer(
        ["key", "end"], end_col="end", grace=timedelta(minutes=1))
    e1, e2 = t("00:10:00"), t("00:20:00")
    out = buf.put_batch([
        {"key": "a", "end": e1, "n": 1, "ts": t("00:05:00")},
        {"key": "a", "end": e1, "n": 2, "ts": t("00:06:00")},  # coalesces
    ], "ts")
    assert out == [] and len(buf) == 1
    # stream time passes e1+grace → the LATEST buffered value emits once
    out = buf.put_batch([
        {"key": "b", "end": e2, "n": 1, "ts": t("00:11:30")}], "ts")
    assert [(r["key"], r["n"]) for r in out] == [("a", 2)]
    assert len(buf) == 1  # b still open


def test_suppress_buffer_emit_early_when_full():
    """BufferConfig.maxRecords(2).emitEarlyWhenFull(): the third key
    forces the earliest-buffered entry out before its time."""
    from datetime import timedelta
    buf = suppress.SuppressionBuffer(
        ["key"], emit_after=timedelta(hours=1),
        config=suppress.BufferConfig(max_records=2, on_full="emit"))
    out = buf.put_batch([
        {"key": "a", "n": 1, "ts": t("00:01:00")},
        {"key": "b", "n": 1, "ts": t("00:02:00")},
        {"key": "c", "n": 1, "ts": t("00:03:00")},
    ], "ts")
    assert [r["key"] for r in out] == ["a"]  # evicted earliest-first
    assert len(buf) == 2


def test_suppress_buffer_max_bytes_and_update_retiming():
    """maxBytes bound + upsert semantics: an update to a buffered key
    replaces value AND buffer time (put re-inserts at the new record
    time), so eviction order follows the latest update."""
    from datetime import timedelta
    buf = suppress.SuppressionBuffer(
        ["key"], emit_after=timedelta(hours=1),
        config=suppress.BufferConfig(max_bytes=60, on_full="emit"))
    buf.put_batch([{"key": "a", "n": 1, "ts": t("00:01:00")},
                   {"key": "b", "n": 1, "ts": t("00:02:00")}], "ts")
    # re-time a to be newest; then overflow → b (now oldest) evicts first
    buf.put_batch([{"key": "a", "n": 2, "ts": t("00:03:00")}], "ts")
    out = buf.put_batch([{"key": "c", "n": 1, "ts": t("00:04:00")}], "ts")
    assert [r["key"] for r in out] == ["b"]


def test_suppress_buffer_shutdown_when_full():
    """BufferConfig.shutDownWhenFull(): overflow is fatal, not lossy."""
    from datetime import timedelta
    buf = suppress.SuppressionBuffer(
        ["key"], emit_after=timedelta(hours=1),
        config=suppress.BufferConfig(max_records=1, on_full="shutdown"))
    buf.put_batch([{"key": "a", "n": 1, "ts": t("00:01:00")}], "ts")
    with pytest.raises(suppress.BufferFullError):
        buf.put_batch([{"key": "b", "n": 1, "ts": t("00:02:00")}], "ts")


def test_suppress_until_window_closes_requires_strict_config():
    """Suppressed.untilWindowCloses only accepts a StrictBufferConfig —
    an emit-early bound would break final-results semantics."""
    with pytest.raises(ValueError, match="strict"):
        suppress.SuppressionBuffer(
            ["key"], config=suppress.BufferConfig(max_records=2,
                                                  on_full="emit"))
    # shutdown-when-full IS strict — allowed
    suppress.SuppressionBuffer(
        ["key"], config=suppress.BufferConfig(max_records=2,
                                              on_full="shutdown"))


def test_suppress_bounded_streaming_adapter(spark, tmpdir):
    """suppress_bounded end-to-end: update-mode windowed count feeds
    the bounded buffer via foreachBatch; the closed window's final
    count reaches the sink exactly once."""
    from datetime import timedelta
    _write_batch(spark, tmpdir, [("a", 1, t("00:00:10")),
                                 ("a", 1, t("00:00:40"))], 0)
    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    agg = (Stream(src.df, key="key", ts="ts")
           .group_by_key()
           .windowed_by(Windows.tumbling("1 minute"))
           .aggregate(F.count(F.lit(1)).alias("n"),
                      F.max("ts").alias("_ts"))
           .select(F.col("window.end").alias("end"), "key", "n", "_ts"))
    buf = suppress.SuppressionBuffer(
        ["key", "end"], end_col="end",
        config=suppress.BufferConfig(max_records=100, on_full="shutdown"))
    got = []
    q = suppress.suppress_bounded(
        agg, buf, ts_col="_ts",
        sink=lambda rows, bid: got.extend(rows),
        checkpoint=f"{tmpdir}/ckpt_sb")
    try:
        q.processAllAvailable()
        assert got == []  # window still open
        _write_batch(spark, tmpdir, [("b", 1, t("00:02:30"))], 1)
        q.processAllAvailable()
    finally:
        q.stop()
    assert [(r["key"], r["n"]) for r in got if r["key"] == "a"] == [("a", 2)]


def test_suppress_bounded_requires_a_bound(spark, tmpdir):
    """The driver-buffer adapter refuses an unbounded config — that
    state belongs in append mode or the distributed path."""
    buf = suppress.SuppressionBuffer(["key"], config=suppress.BufferConfig())
    os.makedirs(f"{tmpdir}/empty")
    with pytest.raises(ValueError, match="max_records or max_bytes"):
        suppress.suppress_bounded(
            spark.readStream.schema(KV).parquet(f"{tmpdir}/empty"),
            buf, ts_col="ts", sink=lambda rows, bid: None)


def _distributed_suppress(spark, tmpdir, name, **kw):
    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    out = suppress.suppress_bounded_distributed(
        src.df, key_cols=["key"], ts_col="ts", window="1 minute",
        agg={"n": "count", "tot": ("sum", "value")}, **kw)
    return (out.writeStream.outputMode("append").format("memory")
            .queryName(name).option(
                "checkpointLocation", f"{tmpdir}/ckpt_{name}").start())


def test_suppress_distributed_final_results_on_window_close(spark, tmpdir):
    """untilWindowCloses semantics, executor-side state: the final
    (key, window) aggregate emits exactly once, after the watermark
    passes window end + grace — even when the closing event lands in a
    different bucket (timeout-driven eviction)."""
    _write_batch(spark, tmpdir, [("a", 1, t("00:00:10")),
                                 ("a", 2, t("00:00:40"))], 0)
    q = _distributed_suppress(
        spark, tmpdir, "sup_dist",
        config=suppress.BufferConfig(max_records=100, on_full="shutdown"),
        n_buckets=4)
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM sup_dist").count() == 0  # open
        _write_batch(spark, tmpdir, [("b", 1, t("00:02:30"))], 1)
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("b", 1, t("00:03:30"))], 2)
        q.processAllAvailable()
        rows = {(r.key, r.window_start.isoformat(), r.n, r.tot)
                for r in spark.sql(
                    "SELECT * FROM sup_dist WHERE key='a'").collect()}
        assert rows == {("a", "2024-01-01T00:00:00", 2, 3.0)}
    finally:
        q.stop()


def test_suppress_distributed_non_identifier_column_names(spark, tmpdir):
    """Key and value columns whose names are not Python identifiers
    ('class', 'my val') reach the fold under their own names."""
    schema = "class string, `my val` int, ts timestamp"

    def write(rows, n):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(f"{tmpdir}/in/b{n}")

    write([("a", 1, t("00:00:10")), ("a", 2, t("00:00:40"))], 0)
    src = spark.readStream.schema(schema).parquet(f"{tmpdir}/in/*")
    out = suppress.suppress_bounded_distributed(
        src, key_cols=["class"], ts_col="ts", window="1 minute",
        agg={"n": "count", "tot": ("sum", "my val")}, n_buckets=2)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sup_names")
         .option("checkpointLocation", f"{tmpdir}/ckpt_names").start())
    try:
        q.processAllAvailable()
        write([("b", 5, t("00:02:30"))], 1)
        q.processAllAvailable()
        rows = {(r["class"], r.n, r.tot) for r in spark.sql(
            "SELECT * FROM sup_names").collect()}
        assert rows == {("a", 2, 3.0)}
    finally:
        q.stop()


def test_suppress_distributed_emit_early_when_full(spark, tmpdir):
    """emitEarlyWhenFull: a third distinct (key, window) entry in a
    1-bucket buffer with max_records=2 force-evicts the earliest."""
    from datetime import timedelta
    _write_batch(spark, tmpdir, [("a", 1, t("00:00:10")),
                                 ("b", 2, t("00:00:20")),
                                 ("c", 3, t("00:00:30"))], 0)
    q = _distributed_suppress(
        spark, tmpdir, "sup_early",
        emit_after=timedelta(hours=1),
        config=suppress.BufferConfig(max_records=2, on_full="emit"),
        n_buckets=1)
    try:
        q.processAllAvailable()
        rows = [(r.key, r.n) for r in
                spark.sql("SELECT * FROM sup_early").collect()]
        assert rows == [("a", 1)]  # earliest entry forced out, others held
    finally:
        q.stop()


def test_suppress_distributed_shutdown_when_full(spark, tmpdir):
    """shutDownWhenFull: overflow raises in the task and fails the
    query — the reference's fatal StreamThread path."""
    _write_batch(spark, tmpdir, [("a", 1, t("00:00:10")),
                                 ("b", 2, t("00:00:20"))], 0)
    q = _distributed_suppress(
        spark, tmpdir, "sup_shut",
        config=suppress.BufferConfig(max_records=1, on_full="shutdown"),
        n_buckets=1)
    try:
        with pytest.raises(Exception, match="BufferFullError|buffer full"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_retraction_bounded_state_many_batches(spark, tmpdir):
    """The retraction store must stay O(|distinct keys|) regardless of
    changelog length: after 50 microbatches over 5 keys the durable
    snapshot holds exactly 5 rows and exactly one committed version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    for i in range(50):
        pq.write_table(pa.table({
            "key": [f"k{i % 5}"], "attr": ["x" if i % 2 else "y"],
            "value": pa.array([i], type=pa.int32()),
            "offset": pa.array([i], type=pa.int64()),
        }), f"{tmpdir}/in/b{i:03d}.parquet")
    results = []
    src = spark.readStream.schema(
        "key string, attr string, value int, offset bigint"
    ).option("maxFilesPerTrigger", "1").parquet(f"{tmpdir}/in/*")
    q = retraction.streaming_table_group_aggregate(
        src, key="key", order_by="offset",
        group_exprs=[F.col("attr")],
        aggs=[F.sum("value").alias("total")],
        sink=lambda df, bid: results.append(
            {r.attr: r.total for r in df.collect()}),
        value_cols=["attr", "value"],
        checkpoint=f"{tmpdir}/ckpt_many",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(results) == 50
    # Latest offsets per key are 45..49; odd offsets carry attr "x" →
    # x: 45+47+49, y: 46+48.
    assert results[-1] == {"x": 45 + 47 + 49, "y": 46 + 48}
    store = f"{tmpdir}/ckpt_many/snapshots"
    versions = [d for d in os.listdir(store) if d.startswith("v=")]
    assert len(versions) == 1  # pruned: one committed snapshot
    snap = spark.read.parquet(f"{store}/{versions[0]}")
    assert snap.count() == 5  # |distinct keys|, not 50 changelog rows


def test_streaming_retraction_restart_from_checkpoint(spark, tmpdir):
    """Kill the query, restart with the same checkpoint alone: the
    snapshot store under it survives and the re-keying retraction
    still lands correctly."""
    up = "key string, attr string, value int, offset bigint"

    def w(rows, n):
        spark.createDataFrame(rows, up).coalesce(1).write.mode(
            "overwrite").parquet(f"{tmpdir}/in/b{n}")

    def start(results):
        src = spark.readStream.schema(up).option(
            "maxFilesPerTrigger", "1").parquet(f"{tmpdir}/in/*")
        return retraction.streaming_table_group_aggregate(
            src, key="key", order_by="offset",
            group_exprs=[F.col("attr")],
            aggs=[F.sum("value").alias("total")],
            sink=lambda df, bid: results.append(
                {r.attr: r.total for r in df.collect()}),
            value_cols=["attr", "value"],
            checkpoint=f"{tmpdir}/ckpt_rs",
        )

    before = _temp_stores()
    r1 = []
    w([("k1", "x", 5, 0), ("k2", "x", 3, 1)], 0)
    q = start(r1)
    try:
        q.processAllAvailable()
        assert r1[-1] == {"x": 8}
    finally:
        q.stop()

    # New incarnation of the query: picks up the durable store, and the
    # re-key of k1 x→y must retract 5 from x.
    r2 = []
    w([("k1", "y", 7, 2)], 1)
    q = start(r2)
    try:
        q.processAllAvailable()
        assert r2[-1] == {"x": 3, "y": 7}
    finally:
        q.stop()
    assert _temp_stores() == before


def test_global_table_refresh_staleness_bound(spark, tmpdir):
    """GlobalKTable refresh: a dimension update becomes visible to the
    stream⋈global enrichment within refresh_every triggers."""
    from kafkadirect_spark.streaming import global_refresh

    dim_schema = "key string, label string"

    def write_dim(rows):
        spark.createDataFrame(rows, dim_schema).coalesce(1).write.mode(
            "overwrite").parquet(f"{tmpdir}/dim")

    write_dim([("a", "v1")])
    _write_batch(spark, tmpdir, [("a", 1, t("00:00:00"))], 0)
    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    seen = []
    q = global_refresh.streaming_global_join(
        src.df,
        load_dim=lambda s: s.read.parquet(f"{tmpdir}/dim"),
        on="key",
        sink=lambda df, bid: seen.append(
            sorted((r.key, r.value, r.label) for r in df.collect())),
        refresh_every=2,
        checkpoint=f"{tmpdir}/ckpt_gr")
    try:
        q.processAllAvailable()
        assert seen[-1] == [("a", 1, "v1")]
        write_dim([("a", "v2")])            # dimension update lands
        _write_batch(spark, tmpdir, [("a", 2, t("00:00:01"))], 1)
        q.processAllAvailable()
        assert seen[-1] == [("a", 2, "v1")]  # within bound: still stale
        _write_batch(spark, tmpdir, [("a", 3, t("00:00:02"))], 2)
        q.processAllAvailable()
        assert seen[-1] == [("a", 3, "v2")]  # refreshed at the bound
    finally:
        q.stop()


LJ = "key string, lval string, offset bigint"
RJ = "key string, rval string, offset bigint"


def _ttj_harness(spark, tmpdir, how):
    """Start a streaming table-table join over two file changelogs;
    returns (pipe_left, pipe_right, outputs, query)."""
    for side, schema in (("l", LJ), ("r", RJ)):
        (spark.createDataFrame([], schema).coalesce(1)
         .write.parquet(f"{tmpdir}/{side}/b_seed"))
    left = spark.readStream.schema(LJ).option(
        "maxFilesPerTrigger", "1").parquet(f"{tmpdir}/l/*")
    right = spark.readStream.schema(RJ).option(
        "maxFilesPerTrigger", "1").parquet(f"{tmpdir}/r/*")
    outputs = []
    q = table_join.streaming_table_table_join(
        left, right, key="key", order_by="offset",
        sink=lambda df, bid: outputs.append(
            [(r.key, r.lval, r.rval, r._change) for r in df.collect()]),
        how=how, left_tombstone="lval", right_tombstone="rval",
        checkpoint=f"{tmpdir}/ckpt")
    n = {"l": 0, "r": 0}

    def pipe(side, schema):
        def go(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite").parquet(f"{tmpdir}/{side}/b{n[side]}")
            n[side] += 1
            q.processAllAvailable()
        return go

    return pipe("l", LJ), pipe("r", RJ), outputs, q


def test_streaming_table_table_left_join_update_sequence(spark, tmpdir):
    """KTableKTableLeftJoinTest shape: updates on either side re-emit
    the joined row; a left-side tombstone deletes the key downstream."""
    pl, pr, out, q = _ttj_harness(spark, tmpdir, "left")
    try:
        q.processAllAvailable()
        pl([("k1", "v1", 0)])
        assert out[-1] == [("k1", "v1", None, "upsert")]
        pr([("k1", "w1", 1)])
        assert out[-1] == [("k1", "v1", "w1", "upsert")]
        pr([("k1", "w2", 2)])  # right update re-joins against left state
        assert out[-1] == [("k1", "v1", "w2", "upsert")]
        pl([("k2", "v2", 3)])  # unrelated key: no k1 noise
        assert out[-1] == [("k2", "v2", None, "upsert")]
        pl([("k1", None, 4)])  # left tombstone → join tombstone
        assert out[-1] == [("k1", None, None, "delete")]
    finally:
        q.stop()


def test_streaming_table_table_inner_join_update_sequence(spark, tmpdir):
    """Inner join: no emission until both sides have the key; a
    right-side tombstone retracts the joined row."""
    pl, pr, out, q = _ttj_harness(spark, tmpdir, "inner")
    try:
        q.processAllAvailable()
        pl([("k1", "v1", 0)])
        assert out[-1] == []  # right side empty: nothing joins yet
        pr([("k1", "w1", 1)])
        assert out[-1] == [("k1", "v1", "w1", "upsert")]
        pr([("k1", None, 2)])  # right tombstone
        assert out[-1] == [("k1", None, None, "delete")]
    finally:
        q.stop()


def test_streaming_table_table_outer_join(spark, tmpdir):
    """Outer join: each side visible alone; tombstones degrade the row
    instead of deleting while the other side still has the key."""
    pl, pr, out, q = _ttj_harness(spark, tmpdir, "outer")
    try:
        q.processAllAvailable()
        pr([("k1", "w1", 0)])
        assert out[-1] == [("k1", None, "w1", "upsert")]
        pl([("k1", "v1", 1)])
        assert out[-1] == [("k1", "v1", "w1", "upsert")]
        pl([("k1", None, 2)])  # left gone, right remains → degraded row
        assert out[-1] == [("k1", None, "w1", "upsert")]
        pr([("k1", None, 3)])  # both gone → delete
        assert out[-1] == [("k1", None, None, "delete")]
    finally:
        q.stop()


def _temp_stores() -> set[str]:
    return {n for n in os.listdir(tempfile.gettempdir())
            if n.startswith(("kd_ret_", "kd_ttj_"))}


def test_snapshot_stores_live_under_checkpoint(spark, tmpdir):
    """The snapshot-store operators keep their state under
    ``<checkpoint>/snapshots``: a table-table join restarted from its
    checkpoint alone still joins a right-side update against the left
    state of the first run, no store appears in the temp dir, and a
    missing checkpoint is refused."""
    before = _temp_stores()
    for side, schema in (("l", LJ), ("r", RJ)):
        (spark.createDataFrame([], schema).coalesce(1)
         .write.parquet(f"{tmpdir}/{side}/b_seed"))

    def start(outputs, checkpoint=f"{tmpdir}/ckpt"):
        left, right = (spark.readStream.schema(schema)
                       .option("maxFilesPerTrigger", "1")
                       .parquet(f"{tmpdir}/{side}/*")
                       for side, schema in (("l", LJ), ("r", RJ)))
        return table_join.streaming_table_table_join(
            left, right, key="key", order_by="offset",
            sink=lambda df, bid: outputs.append(
                [(r.key, r.lval, r.rval, r._change) for r in df.collect()]),
            how="inner", checkpoint=checkpoint)

    def run(outputs):
        q = start(outputs)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    with pytest.raises(ValueError, match="checkpoint"):
        start([], checkpoint=None)
    with pytest.raises(ValueError, match="checkpoint"):
        retraction.streaming_table_group_aggregate(
            spark.createDataFrame([], LJ), key="key", order_by="offset",
            group_exprs=[F.col("lval")], aggs=[F.count("*").alias("n")],
            sink=lambda df, bid: None)

    spark.createDataFrame([("k1", "v1", 0)], LJ).coalesce(1).write.parquet(
        f"{tmpdir}/l/b0")
    first = []
    run(first)
    assert first[-1] == []  # right side empty: nothing joins yet
    spark.createDataFrame([("k1", "w1", 1)], RJ).coalesce(1).write.parquet(
        f"{tmpdir}/r/b0")
    second = []
    run(second)
    assert second[-1] == [("k1", "v1", "w1", "upsert")]
    assert os.path.isdir(f"{tmpdir}/ckpt/snapshots/L")
    assert _temp_stores() == before


def test_aggregate_with_arbitrary_fold(spark):
    """§2.8 Initializer+Aggregator with a non-Catalyst fold (midrange)."""
    import pandas as pd
    from kafkadirect_spark.core import Stream

    df = spark.createDataFrame(
        [("a", 1, t("00:00:00")), ("a", 9, t("00:00:01")), ("b", 4, t("00:00:02"))], KV)

    def midrange(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"key": [pdf.key.iloc[0]],
                             "mid": [(pdf.value.min() + pdf.value.max()) / 2.0]})

    out = Stream(df, key="key").group_by_key().aggregate_with(
        midrange, "key string, mid double")
    assert {(r.key, r.mid) for r in out.collect()} == {("a", 5.0), ("b", 4.0)}


def test_event_time_timer_punctuation(spark, tmpdir):
    """Punctuation/timers — PunctuationType.STREAM_TIME ≙
    EventTimeTimeout: a key's timer fires when the watermark passes its
    timeout timestamp, emitting a final 'flush' row."""
    _write_batch(spark, tmpdir, [("x", 1, t("00:00:00")), ("x", 1, t("00:00:01"))], 0)

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            n = state.getOption[0] if state.exists else 0
            state.remove()
            yield pd.DataFrame({"key": [key[0]], "n": [n], "flushed": [True]})
        else:
            opt = state.getOption
            n = opt[0] if opt else 0
            mx = 0
            for pdf in pdfs:
                n += len(pdf)
                mx = max(mx, int(pdf.ts.max().timestamp() * 1000))
            state.update((n,))
            state.setTimeoutTimestamp(mx + 5_000)  # stream-time punctuation +5s
            yield pd.DataFrame({"key": [key[0]], "n": [n], "flushed": [False]})

    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    out = transform.process_with_state(
        src.df.withWatermark("ts", "1 second"), ["key"], fn,
        state_schema="n long", output_schema="key string, n long, flushed boolean",
        timeout="EventTimeTimeout")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("punct").option("checkpointLocation", f"{tmpdir}/ckpt4").start())
    try:
        q.processAllAvailable()
        # batch advancing the watermark far past x's timeout fires the timer
        _write_batch(spark, tmpdir, [("y", 1, t("01:00:00"))], 1)
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("y", 1, t("02:00:00"))], 2)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM punct").collect()
        flushed = [(r.key, r.n) for r in rows if r.flushed]
        assert ("x", 2) in flushed
    finally:
        q.stop()


def test_streaming_stream_stream_interval_join(spark, tmpdir):
    """Watermarked stream-stream interval join — the streaming form of
    KStreamKStreamJoin (both sides buffered in join state, matches
    emitted as they arrive)."""
    from kafkadirect_spark.core import JoinWindows

    L = "key string, lv string, lts timestamp"
    R = "rkey string, rv string, rts timestamp"
    spark.createDataFrame([("k1", "L1", t("00:00:00"))], L) \
        .coalesce(1).write.parquet(f"{tmpdir}/l/b0")
    spark.createDataFrame([("k1", "R1", t("00:00:30")),
                           ("k2", "R2", t("00:00:30"))], R) \
        .coalesce(1).write.parquet(f"{tmpdir}/r/b0")

    lstream = stream_from_dir(spark, f"{tmpdir}/l/*", L, key="key", ts="lts")
    rstream = stream_from_dir(spark, f"{tmpdir}/r/*", R, key="rkey", ts="rts")
    joined = lstream.join_interval(
        rstream, on=F.col("key") == F.col("rkey"),
        windows=JoinWindows.of("1 minute", grace="2 minutes"))
    q = (joined.df.writeStream.outputMode("append").format("memory")
         .queryName("ssj").option("checkpointLocation", f"{tmpdir}/ckpt5").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ssj").collect()
        assert [(r.lv, r.rv) for r in rows] == [("L1", "R1")]
        # a second left batch joins against the still-buffered right side
        spark.createDataFrame([("k2", "L2", t("00:00:40"))], L) \
            .coalesce(1).write.parquet(f"{tmpdir}/l/b1")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ssj").collect()
        assert sorted((r.lv, r.rv) for r in rows) == [("L1", "R1"), ("L2", "R2")]
    finally:
        q.stop()


def test_streaming_yahoo_pipeline(spark, tmpdir):
    """The Yahoo shape in streaming mode: filter → project →
    stream-static dim join → watermarked tumbling count (update mode)."""
    EV = "user_id long, event_type string, ts timestamp"
    spark.createDataFrame(
        [(1, "view", t("10:00:10")), (1, "click", t("10:00:20")),
         (2, "view", t("10:00:30"))], EV) \
        .coalesce(1).write.parquet(f"{tmpdir}/ev/b0")
    campaigns = spark.createDataFrame(
        [(1, "CAMP-A"), (2, "CAMP-B")], "c_custkey long, campaign string")

    from kafkadirect_spark.core import Table, Windows
    ev = stream_from_dir(spark, f"{tmpdir}/ev/*", EV, key="user_id", ts="ts")
    agg = (ev.filter(F.col("event_type") == "view")
           .join_table(Table(campaigns, key="c_custkey"),
                       on=F.col("user_id") == F.col("c_custkey"))
           .group_by("campaign")
           .windowed_by(Windows.tumbling("1 hour", grace="1 minute"))
           .count(name="views"))
    q = (agg.writeStream.outputMode("update").format("memory")
         .queryName("yahoo_s").option("checkpointLocation", f"{tmpdir}/ckpt6").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT campaign, views FROM yahoo_s").collect()
        assert {(r.campaign, r.views) for r in rows} == {("CAMP-A", 1), ("CAMP-B", 1)}
    finally:
        q.stop()


def test_windowed_aggregate_with_fold(spark):
    """Arbitrary per-(window,key) fold via applyInPandas."""
    import pandas as pd
    from kafkadirect_spark.core import Stream, Windows

    df = spark.createDataFrame(
        [("a", 1, t("10:05:00")), ("a", 9, t("10:20:00")), ("a", 4, t("11:05:00"))], KV)

    def spread(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "key": [pdf.key.iloc[0]],
            "window_start": [pdf.window.iloc[0]["start"]],
            "spread": [int(pdf.value.max() - pdf.value.min())],
        })

    out = (Stream(df, key="key", ts="ts").group_by_key()
           .windowed_by(Windows.tumbling("1 hour"))
           .aggregate_with(spread, "key string, window_start timestamp, spread int"))
    got = {(r.window_start.hour, r.spread) for r in out.collect()}
    assert got == {(10, 8), (11, 0)}


def test_streaming_routed_sink(spark, tmpdir):
    """Dynamic per-record routing (TopicNameExtractor) on a streaming
    file sink: records land under route=<value> directories."""
    from kafkadirect_spark.core import Stream as KStream
    from kafkadirect_spark.sources.kafka import write_stream_routed

    _write_batch(spark, tmpdir, [("a", 1, t("00:00:00")), ("b", 2, t("00:00:01"))], 0)
    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    q = write_stream_routed(KStream(src.df, key="key", ts="ts"),
                            f"{tmpdir}/routed", route_col="key",
                            checkpoint=f"{tmpdir}/ckpt7")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import glob
    dirs = sorted(p.split("/")[-1] for p in glob.glob(f"{tmpdir}/routed/key=*"))
    assert dirs == ["key=a", "key=b"]
    back = spark.read.parquet(f"{tmpdir}/routed")
    assert back.count() == 2


def test_kafka_wrapper_options(spark):
    """Kafka wrappers: option construction fails fast without
    subscribe/pattern; offsets JSON matches the seek spec shape."""
    import json
    import pytest as _pytest
    from kafkadirect_spark.sources import kafka as k

    with _pytest.raises(ValueError):
        k.read_stream(spark, "broker:9092")
    spec = k.offsets_for_times({"topic-a": {0: 100, 1: 200}})
    assert json.loads(spec) == {"topic-a": {"0": 100, "1": 200}}


def test_until_time_limit_rate_limited_emission(spark, tmpdir):
    """untilTimeLimit ≙ update mode + processingTime trigger: updates
    coalesce per trigger and emit at most once per interval (smoke:
    the configured query runs and emits coalesced counts)."""
    _write_batch(spark, tmpdir, [("a", 1, t("10:00:10")), ("a", 1, t("10:00:40"))], 0)
    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    agg = Stream(src.df, key="key", ts="ts").group_by_key().count(name="n")
    q = suppress.until_time_limit(agg, "1 second", query_name="rl",
                                  checkpoint=f"{tmpdir}/ckpt8").start()
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM rl").collect()
        # both input records coalesced into one emission for key a
        assert [(r.key, r.n) for r in rows] == [("a", 2)]
    finally:
        q.stop()


def test_streaming_left_interval_join_emits_at_expiry(spark, tmpdir):
    """Streaming LEFT interval join: the null-padded row for an
    unmatched left record is emitted only once the watermark proves no
    match can arrive (SURVEY §7: Spark's post-KIP-633 semantics,
    declared in place of Kafka's eager spurious emission)."""
    from kafkadirect_spark.core import JoinWindows

    L = "key string, lv string, lts timestamp"
    R = "rkey string, rv string, rts timestamp"
    spark.createDataFrame([("k1", "L1", t("00:00:00"))], L) \
        .coalesce(1).write.parquet(f"{tmpdir}/l/b0")
    spark.createDataFrame([("zz", "seed", t("00:00:00"))], R) \
        .coalesce(1).write.parquet(f"{tmpdir}/r/b0")

    lstream = stream_from_dir(spark, f"{tmpdir}/l/*", L, key="key", ts="lts")
    rstream = stream_from_dir(spark, f"{tmpdir}/r/*", R, key="rkey", ts="rts")
    joined = lstream.join_interval(
        rstream, on=F.col("key") == F.col("rkey"),
        windows=JoinWindows.of("1 minute", grace="1 minute"), how="left")
    q = (joined.df.writeStream.outputMode("append").format("memory")
         .queryName("lsj").option("checkpointLocation", f"{tmpdir}/ckpt9").start())
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM lsj").count() == 0  # match still possible
        # advance both watermarks far past L1's window
        spark.createDataFrame([("zz", "adv", t("01:00:00"))], L) \
            .coalesce(1).write.parquet(f"{tmpdir}/l/b1")
        spark.createDataFrame([("zz", "adv", t("01:00:00"))], R) \
            .coalesce(1).write.parquet(f"{tmpdir}/r/b1")
        q.processAllAvailable()
        rows = {(r.lv, r.rv) for r in spark.sql("SELECT * FROM lsj").collect()}
        assert ("L1", None) in rows  # null-padded exactly at expiry
    finally:
        q.stop()


def test_kafka_serde_roundtrip(spark):
    """Producer/consumer serde as pure transforms: a typed Stream
    serializes to (key, JSON value) and parses back to the same typed
    columns — the wire contract of read_stream/write_stream, testable
    without a broker."""
    from kafkadirect_spark.sources import kafka as k

    src = Stream(spark.createDataFrame(
        [("u1", 7, t("00:00:01"))], "key string, value int, ts timestamp"),
        key="key", ts="ts")
    wire = k.serialize_records(src)
    row = wire.first()
    assert row.key == "u1" and '"value":7' in row.value

    # simulate the kafka source record shape, then parse back
    fake = wire.select(
        F.encode("key", "UTF-8").alias("key"),
        F.encode("value", "UTF-8").alias("value"),
        F.lit(t("00:00:05")).alias("timestamp"),
        F.lit("topic-a").alias("topic"),
        F.lit(0).alias("partition"),
        F.lit(42).alias("offset"),
    )
    parsed = k.parse_records(fake, "value int, ts timestamp").first()
    assert (parsed.key, parsed.value, parsed.topic, parsed.offset) == \
        ("u1", 7, "topic-a", 42)


def _session_fold_query(spark, tmpdir, name, gap="30 minutes",
                        grace="0 seconds"):
    from kafkadirect_spark.streaming import sessions

    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    out = sessions.streaming_session_aggregate(
        src.df, key_cols=["key"], ts_col="ts", gap=gap, grace=grace,
        initializer=lambda: {"n": 0, "best": None},
        aggregator=lambda a, row: {
            "n": a["n"] + 1,
            "best": row["value"] if a["best"] is None
            else max(a["best"], row["value"])},
        merger=lambda a, b: {
            "n": a["n"] + b["n"],
            "best": b["best"] if a["best"] is None
            else a["best"] if b["best"] is None
            else max(a["best"], b["best"])},
        finisher=lambda a: {"n": a["n"], "best": a["best"]},
        agg_fields="n long, best int")
    return (out.writeStream.outputMode("append").format("memory")
            .queryName(name).option(
                "checkpointLocation", f"{tmpdir}/ckpt_{name}").start())


def test_streaming_session_fold_merge_and_close(spark, tmpdir):
    """KStreamSessionWindowAggregate shape: records within the gap
    merge across microbatches; the session emits once the watermark
    passes last_event + gap, with end = last + gap."""
    _write_batch(spark, tmpdir, [("u1", 1, t("10:00:00")),
                                 ("u1", 9, t("10:20:00"))], 0)
    q = _session_fold_query(spark, tmpdir, "sess_fold")
    try:
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("u1", 4, t("10:50:00"))], 1)  # merges
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM sess_fold").count() == 0  # open
        _write_batch(spark, tmpdir, [("u1", 1, t("13:00:00"))], 2)  # advances wm
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("u1", 1, t("13:00:01"))], 3)
        q.processAllAvailable()
        rows = [(r.key, r.window_start.time().isoformat(),
                 r.window_end.time().isoformat(), r.n, r.best)
                for r in spark.sql(
                    "SELECT * FROM sess_fold ORDER BY window_start").collect()]
        assert rows == [("u1", "10:00:00", "11:20:00", 3, 9)]
    finally:
        q.stop()


def test_streaming_session_fold_bridge_merges_two_sessions(spark, tmpdir):
    """A bridge record arriving later merges two open sessions into
    one — the Merger path (KStreamSessionWindowAggregate.java:94-141).
    Grace keeps Spark's GLOBAL watermark behind the bridge: unlike
    Kafka's per-task stream time, the watermark closes sessions across
    all keys, so a cross-batch backfill needs the grace allowance
    (SURVEY.md §7 watermark-divergence note)."""
    _write_batch(spark, tmpdir, [("u", 2, t("09:00:00")),
                                 ("u", 8, t("10:00:00"))], 0)  # two sessions
    q = _session_fold_query(spark, tmpdir, "sess_bridge", gap="31 minutes",
                            grace="2 hours")
    try:
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("u", 5, t("09:29:00"))], 1)  # bridge
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("u", 1, t("14:00:00"))], 2)
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("u", 1, t("14:00:01"))], 3)
        q.processAllAvailable()
        rows = [(r.window_start.time().isoformat(),
                 r.window_end.time().isoformat(), r.n, r.best)
                for r in spark.sql(
                    "SELECT * FROM sess_bridge ORDER BY window_start").collect()]
        assert rows[0] == ("09:00:00", "10:31:00", 3, 8)
    finally:
        q.stop()


def test_streaming_session_fold_late_record_dropped(spark, tmpdir):
    """A record whose whole session window is behind the watermark is
    dropped, not resurrected — the late-record drop."""
    _write_batch(spark, tmpdir, [("u", 1, t("09:00:00"))], 0)
    q = _session_fold_query(spark, tmpdir, "sess_late")
    try:
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("u", 1, t("15:00:00"))], 1)  # wm jumps
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("u", 7, t("09:01:00"))], 2)  # too late
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("u", 1, t("16:00:00"))], 3)
        q.processAllAvailable()
        early = [(r.n, r.best) for r in spark.sql(
            "SELECT * FROM sess_late WHERE window_start < '2024-01-01 10:00'").collect()]
        assert early == [(1, 1)]  # the 09:01 late record never lands
    finally:
        q.stop()


def _window_fold_query(spark, tmpdir, name, size="1 minute", advance=None,
                       grace="0 seconds"):
    from kafkadirect_spark.streaming import window_fold

    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    out = window_fold.streaming_windowed_aggregate(
        src.df, key_cols=["key"], ts_col="ts", size=size, advance=advance,
        grace=grace,
        initializer=lambda: {"n": 0, "best": None},
        aggregator=lambda a, row: {
            "n": a["n"] + 1,
            "best": row["value"] if a["best"] is None
            else max(a["best"], row["value"])},
        finisher=lambda a: {"n": a["n"], "best": a["best"]},
        agg_fields="n long, best int")
    return (out.writeStream.outputMode("append").format("memory")
            .queryName(name).option(
                "checkpointLocation", f"{tmpdir}/ckpt_{name}").start())


def test_streaming_tumbling_fold_final_results(spark, tmpdir):
    """TimeWindowedKStream.aggregate in streaming: the window's final
    fold emits once, after the watermark passes its end; a record
    behind the closed window is dropped (KStreamWindowAggregate
    .java:131-151)."""
    _write_batch(spark, tmpdir, [("a", 3, t("10:00:10")),
                                 ("a", 7, t("10:00:40"))], 0)
    q = _window_fold_query(spark, tmpdir, "wf_tumb")
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM wf_tumb").count() == 0  # open
        _write_batch(spark, tmpdir, [("a", 1, t("10:05:00"))], 1)
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("a", 9, t("10:00:50"))], 2)  # late
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("a", 1, t("10:06:00"))], 3)
        q.processAllAvailable()
        rows = [(r.window_start.time().isoformat(), r.n, r.best)
                for r in spark.sql(
                    "SELECT * FROM wf_tumb ORDER BY window_start").collect()]
        assert rows[0] == ("10:00:00", 2, 7)  # late 9 never lands
    finally:
        q.stop()


def test_streaming_hopping_fold_covering_windows(spark, tmpdir):
    """Hopping: one record folds into every covering window —
    windowsFor enumeration (TimeWindows.java:176-186) across
    microbatches, each window emitting its own final."""
    _write_batch(spark, tmpdir, [("a", 5, t("10:20:00"))], 0)
    q = _window_fold_query(spark, tmpdir, "wf_hop",
                           size="30 minutes", advance="15 minutes")
    try:
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("a", 8, t("10:25:00"))], 1)
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("a", 1, t("12:00:00"))], 2)  # closes all
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("a", 1, t("12:00:01"))], 3)
        q.processAllAvailable()
        rows = [(r.window_start.time().isoformat(), r.n, r.best)
                for r in spark.sql(
                    "SELECT * FROM wf_hop WHERE window_start < '2024-01-01 11:00' "
                    "ORDER BY window_start").collect()]
        # 10:20 covers [10:00,10:30) and [10:15,10:45); 10:25 the same.
        assert rows == [("10:00:00", 2, 8), ("10:15:00", 2, 8)]
    finally:
        q.stop()


def test_streaming_session_fold_restart_from_checkpoint(spark, tmpdir):
    """Kill the query mid-session, restart on the same checkpoint: the
    open session (applyInPandasWithState JSON state) survives and later
    records still merge into it — durability of the custom-fold state."""
    def start(name_dir):
        from kafkadirect_spark.streaming import sessions
        src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
        out = sessions.streaming_session_aggregate(
            src.df, key_cols=["key"], ts_col="ts", gap="30 minutes",
            initializer=lambda: {"n": 0},
            aggregator=lambda a, row: {"n": a["n"] + 1},
            merger=lambda a, b: {"n": a["n"] + b["n"]},
            finisher=lambda a: {"n": a["n"]},
            agg_fields="n long")
        return (out.writeStream.outputMode("append").format("parquet")
                .option("path", f"{tmpdir}/{name_dir}")
                .option("checkpointLocation", f"{tmpdir}/ckpt_sf_rs").start())

    _write_batch(spark, tmpdir, [("u1", 1, t("10:00:00")),
                                 ("u1", 1, t("10:20:00"))], 0)
    q = start("out_sf")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # Incarnation 2: a record within the gap of the RESTORED session
    # must merge with it, then the closing record emits n=3.
    _write_batch(spark, tmpdir, [("u1", 1, t("10:45:00"))], 1)
    _write_batch(spark, tmpdir, [("u1", 1, t("13:00:00"))], 2)
    _write_batch(spark, tmpdir, [("u1", 1, t("13:00:01"))], 3)
    q = start("out_sf")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [(r.key, r.window_start.time().isoformat(), r.n)
            for r in spark.read.parquet(f"{tmpdir}/out_sf")
            .filter("window_start < '2024-01-01 12:00'").collect()]
    assert rows == [("u1", "10:00:00", 3)]


def test_suppress_distributed_max_bytes_emit_early(spark, tmpdir):
    """max_bytes bound with running byte accounting: a tiny byte
    budget in a 1-bucket buffer forces the earliest entry out."""
    from datetime import timedelta
    _write_batch(spark, tmpdir, [("a", 1, t("00:00:10")),
                                 ("b", 2, t("00:00:20")),
                                 ("c", 3, t("00:00:30"))], 0)
    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    out = suppress.suppress_bounded_distributed(
        src.df, key_cols=["key"], ts_col="ts", window="1 minute",
        agg={"n": "count"},
        emit_after=timedelta(hours=1),
        config=suppress.BufferConfig(max_bytes=5, on_full="emit"),
        n_buckets=1)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sup_bytes").option(
             "checkpointLocation", f"{tmpdir}/ckpt_bytes").start())
    try:
        q.processAllAvailable()
        rows = [(r.key, r.n) for r in spark.sql(
            "SELECT * FROM sup_bytes ORDER BY key").collect()]
        assert rows and rows[0] == ("a", 1)  # earliest forced out first
        assert len(rows) < 3                 # something stayed buffered
    finally:
        q.stop()


def test_streaming_window_fold_restart_from_checkpoint(spark, tmpdir):
    """The tumbling custom-fold state survives a query restart: batch
    two lands in the same window after the restart and the final count
    includes both incarnations' records."""
    def start():
        from kafkadirect_spark.streaming import window_fold
        src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
        out = window_fold.streaming_windowed_aggregate(
            src.df, key_cols=["key"], ts_col="ts", size="1 minute",
            initializer=lambda: {"n": 0},
            aggregator=lambda a, row: {"n": a["n"] + 1},
            finisher=lambda a: {"n": a["n"]},
            agg_fields="n long")
        return (out.writeStream.outputMode("append").format("parquet")
                .option("path", f"{tmpdir}/out_wf")
                .option("checkpointLocation", f"{tmpdir}/ckpt_wf_rs").start())

    _write_batch(spark, tmpdir, [("a", 1, t("10:00:10"))], 0)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    _write_batch(spark, tmpdir, [("a", 1, t("10:00:40"))], 1)  # same window
    _write_batch(spark, tmpdir, [("a", 1, t("10:05:00"))], 2)  # closes it
    _write_batch(spark, tmpdir, [("a", 1, t("10:05:01"))], 3)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [(r.window_start.time().isoformat(), r.n)
            for r in spark.read.parquet(f"{tmpdir}/out_wf")
            .filter("window_start < '2024-01-01 10:05'").collect()]
    assert rows == [("10:00:00", 2)]


def test_suppress_distributed_grace_single_delay(spark, tmpdir):
    """With nonzero grace, an idle bucket's timeout eviction must fire
    once stream time passes window end + grace — NOT end + 2x grace
    (the watermark is already grace-delayed; the timeout path must not
    add grace again)."""
    # Find a closing key whose bucket differs from 'a' so the closing
    # events never touch a's bucket and eviction runs on the timeout
    # path (hash is fixed per Spark version, so probe it).
    hash4 = lambda k: spark.sql(f"SELECT pmod(hash('{k}'), 4) AS h").first().h
    other = next(k for k in (f"k{i}" for i in range(20))
                 if hash4(k) != hash4("a"))

    _write_batch(spark, tmpdir, [("a", 1, t("10:00:30"))], 0)
    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    out = suppress.suppress_bounded_distributed(
        src.df, key_cols=["key"], ts_col="ts", window="1 minute",
        agg={"n": "count"}, grace="3 minutes",
        config=suppress.BufferConfig(max_records=100, on_full="shutdown"),
        n_buckets=4)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sup_grace").option(
             "checkpointLocation", f"{tmpdir}/ckpt_grace").start())
    try:
        q.processAllAvailable()
        # Stream time 10:04:30 >= 10:01 (end) + 3m grace → a emits.
        _write_batch(spark, tmpdir, [(other, 1, t("10:04:30"))], 1)
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [(other, 1, t("10:04:31"))], 2)
        q.processAllAvailable()
        rows = [(r.key, r.n) for r in spark.sql(
            "SELECT * FROM sup_grace WHERE key = 'a'").collect()]
        assert rows == [("a", 1)]
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# Streaming as-of join (streaming/asof.py)
# ---------------------------------------------------------------------------

LSCHEMA = "key string, ts timestamp, qty int"
RSCHEMA = "key string, ts timestamp, price int"


def _asof_query(spark, tmpdir, name, grace="0 seconds"):
    from kafkadirect_spark.streaming import asof

    lsrc = stream_from_dir(spark, f"{tmpdir}/L/*", LSCHEMA)
    rsrc = stream_from_dir(spark, f"{tmpdir}/R/*", RSCHEMA)
    out = asof.streaming_asof_join(
        lsrc.df, rsrc.df, on="key", left_ts="ts", right_ts="ts",
        value_cols=["price"], grace=grace)
    return (out.writeStream.outputMode("append").format("memory")
            .queryName(name).option(
                "checkpointLocation", f"{tmpdir}/ckpt_{name}").start())


def _aw(spark, tmpdir, side, rows, n, schema=None):
    schema = schema or (LSCHEMA if side == "L" else RSCHEMA)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite").parquet(f"{tmpdir}/{side}/b{n}")


def test_streaming_asof_time_correct_enrichment(spark, tmpdir):
    """Each left event gets the right version as of ITS timestamp —
    not the latest state at processing time (the KStream⋈KTable race
    this operator fixes): two events straddling a price change pick
    two different prices even when processed in one trigger."""
    _aw(spark, tmpdir, "R", [("a", t("10:00:00"), 100),
                             ("a", t("10:30:00"), 200)], 0)
    _aw(spark, tmpdir, "L", [("a", t("10:15:00"), 1),
                             ("a", t("10:45:00"), 2)], 0)
    q = _asof_query(spark, tmpdir, "asof_basic")
    try:
        q.processAllAvailable()
        # watermark still at epoch during the first trigger
        _aw(spark, tmpdir, "L", [("a", t("12:00:00"), 3)], 1)  # advance wm
        q.processAllAvailable()
        _aw(spark, tmpdir, "L", [("a", t("12:00:01"), 4)], 2)  # trigger emit
        q.processAllAvailable()
        rows = sorted((r.qty, r.price) for r in
                      spark.sql("SELECT * FROM asof_basic").collect())
        # qty=3 (the 12:00 watermark-advancer) emits too once the
        # 12:00:01 row pushes the watermark past it
        assert rows == [(1, 100), (2, 200), (3, 200)]
    finally:
        q.stop()


def test_streaming_asof_late_right_never_rewrites(spark, tmpdir):
    """The round-5 contract golden: once a left event's enrichment is
    emitted, a late-arriving right version behind the watermark must
    NOT rewrite it — no second row, no updated value."""
    _aw(spark, tmpdir, "R", [("a", t("10:00:00"), 100)], 0)
    _aw(spark, tmpdir, "L", [("a", t("10:10:00"), 1)], 0)
    q = _asof_query(spark, tmpdir, "asof_late")
    try:
        q.processAllAvailable()
        _aw(spark, tmpdir, "L", [("a", t("11:00:00"), 2)], 1)  # advance wm
        q.processAllAvailable()
        _aw(spark, tmpdir, "L", [("a", t("11:00:01"), 3)], 2)  # emit qty=1
        q.processAllAvailable()
        first = [(r.qty, r.price) for r in
                 spark.sql("SELECT * FROM asof_late").collect()]
        assert (1, 100) in first
        # late right: ts 10:05 is far behind the watermark (~11:00)
        _aw(spark, tmpdir, "R", [("a", t("10:05:00"), 999)], 1)
        _aw(spark, tmpdir, "L", [("a", t("13:00:00"), 4)], 3)  # advance wm
        q.processAllAvailable()
        _aw(spark, tmpdir, "L", [("a", t("13:00:01"), 5)], 4)
        q.processAllAvailable()
        got = sorted((r.qty, r.price) for r in
                     spark.sql("SELECT * FROM asof_late").collect())
        # qty=1 emitted exactly once, still at price 100 — the late 999
        # version never rewrote it; qty=2/3 match the latest version at
        # their own timestamps
        assert [p for (qv, p) in got if qv == 1] == [100]
        assert (2, 100) in got and (3, 100) in got
    finally:
        q.stop()


def test_streaming_asof_unmatched_left_emits_nulls(spark, tmpdir):
    """A left event with no right version at or before it emits with
    null value columns (left-join shape), exactly once."""
    _aw(spark, tmpdir, "L", [("a", t("09:00:00"), 1)], 0)
    _aw(spark, tmpdir, "R", [("a", t("09:30:00"), 100)], 0)
    q = _asof_query(spark, tmpdir, "asof_null")
    try:
        q.processAllAvailable()
        _aw(spark, tmpdir, "L", [("a", t("11:00:00"), 2)], 1)
        q.processAllAvailable()
        _aw(spark, tmpdir, "L", [("a", t("11:00:01"), 3)], 2)
        q.processAllAvailable()
        rows = {r.qty: r.price for r in
                spark.sql("SELECT * FROM asof_null").collect()}
        assert rows[1] is None      # 09:00 precedes every right version
        assert rows[2] == 100       # 11:00 sees the 09:30 version
    finally:
        q.stop()


def test_interval_ms_grammar():
    """Duration parsing accepts the withWatermark/F.window forms —
    compound specs, weeks, millis, abbreviations — and raises a
    ValueError naming the problem on anything else (a bad spec must
    fail at query build time with a message, not as a KeyError)."""
    from kafkadirect_spark.streaming.util import interval_ms

    assert interval_ms("30 seconds") == 30_000
    assert interval_ms("500 millis") == 500
    assert interval_ms("500 ms") == 500
    assert interval_ms("3 m") == 180_000          # 'm' is minutes, not ms
    assert interval_ms("1 week") == 604_800_000
    assert interval_ms("1 hour 30 minutes") == 5_400_000
    for bad in ("1.5 hours", "10 fortnights", "seconds", ""):
        with pytest.raises(ValueError):
            interval_ms(bad)


class _FakeGroupState:
    """The slice of pyspark's GroupState that event_time_fold touches,
    recording every call."""

    def __init__(self, blob=None, wm=0, timed_out=False):
        self.blob, self.wm, self.hasTimedOut = blob, wm, timed_out
        self.removed, self.timer = False, None

    @property
    def exists(self):
        return self.blob is not None

    @property
    def get(self):
        return (self.blob,)

    def getCurrentWatermarkMs(self):
        return self.wm

    def update(self, row):
        self.blob = row[0]

    def remove(self):
        self.blob, self.removed = None, True

    def setTimeoutTimestamp(self, ms):
        self.timer = ms


def _fold_fn(step, init):
    """The per-key function event_time_fold hands to Spark, captured
    from a stand-in DataFrame: no Spark job runs."""
    from kafkadirect_spark.streaming.util import event_time_fold

    captured = {}

    class _Df:
        def withWatermark(self, ts_col, grace):
            captured["watermark"] = (ts_col, grace)
            return self

        def groupBy(self, *keys):
            return self

        def applyInPandasWithState(self, fn, out, state, mode, timeout):
            captured.update(fn=fn, state=state, mode=mode)
            return self

    event_time_fold(_Df(), ["k"], "ts", "5 seconds", "k string", init, step)
    assert captured["watermark"] == ("ts", "5 seconds")
    assert captured["state"] == "state string"
    assert captured["mode"] == "append"
    return captured["fn"]


def test_event_time_fold_protocol():
    """The skeleton's contract with each operator's step: a timeout
    passes pdf=None, a None state removes the key, a due below the
    watermark arms at wm + 1, due=None stores the state with no timer,
    and rows are emitted only when non-empty."""
    import json

    calls = []

    def step(key, st, pdf, wm):
        calls.append((key, dict(st), pdf, wm))
        return st.get("next", st), st.get("due"), st.get("rows", [])

    fn = _fold_fn(step, init=lambda: {"fresh": 1})

    # timeout: pdf is None exactly here; due below the watermark is
    # armed at wm + 1 and the re-encoded state is stored
    gs = _FakeGroupState(json.dumps({"due": 3}), wm=10, timed_out=True)
    assert list(fn(("a",), iter([]), gs)) == []
    assert calls[-1][2] is None and calls[-1][3] == 10
    assert gs.timer == 11 and json.loads(gs.blob) == {"due": 3}
    # a due above the watermark is armed as given
    gs = _FakeGroupState(json.dumps({"due": 50}), wm=10, timed_out=True)
    list(fn(("a",), iter([]), gs))
    assert gs.timer == 50

    # data call on a fresh key: init() seeds the state; pdf is the
    # non-empty chunks concatenated in arrival order, unsorted
    gs = _FakeGroupState(wm=7)
    chunks = [pd.DataFrame({"v": [3, 1]}), pd.DataFrame({"v": []}),
              pd.DataFrame({"v": [2]})]
    assert list(fn(("b",), iter(chunks), gs)) == []
    key, st, pdf, wm = calls[-1]
    assert key == ("b",) and st == {"fresh": 1} and wm == 7
    assert pdf["v"].tolist() == [3, 1, 2]
    # due=None: the state is updated and no timer is armed
    assert json.loads(gs.blob) == {"fresh": 1} and gs.timer is None

    # a None state calls remove(); non-empty rows are yielded
    gs = _FakeGroupState(json.dumps({"next": None, "rows": [{"k": "c"}]}),
                         wm=0, timed_out=True)
    out = list(fn(("c",), iter([]), gs))
    assert gs.removed and gs.timer is None
    assert len(out) == 1 and out[0].to_dict("records") == [{"k": "c"}]


def test_epoch_ms_floors_nanoseconds():
    from kafkadirect_spark.streaming.util import epoch_ms

    s = pd.Series([pd.Timestamp("1970-01-01 00:00:00.0019"),
                   pd.Timestamp("1969-12-31 23:59:59.9995"),
                   pd.Timestamp("2024-01-01 00:00:01")])
    assert epoch_ms(s).tolist() == [1, -1, 1_704_067_201_000]
    assert epoch_ms(s).tolist() == [int(pd.Timestamp(x).value // 1_000_000)
                                    for x in s]


def test_stateful_operators_share_one_state_skeleton():
    """Only the skeleton (util.py) and the public Processor API
    wrapper (transform.py) call applyInPandasWithState: every other
    streaming operator builds on event_time_fold."""
    import ast
    import pathlib

    import kafkadirect_spark.streaming as pkg

    callers = set()
    for path in pathlib.Path(pkg.__file__).parent.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Attribute)
                    and node.attr == "applyInPandasWithState"):
                callers.add(path.name)
    assert callers == {"util.py", "transform.py"}


def test_streaming_windowed_topk_final_ranks(spark, tmpdir):
    """Per-window top-k: each closed window emits its k best keys
    exactly once, ranked by (count desc, key asc); a window is only
    ranked after the watermark passes its end."""
    from kafkadirect_spark.streaming.topk import streaming_windowed_topk

    # 10:00 window: a×3, b×2, c×1 → top2 = a(1), b(2)
    _write_batch(spark, tmpdir, [
        ("a", 1, t("10:00:05")), ("a", 1, t("10:00:10")),
        ("a", 1, t("10:00:15")), ("b", 1, t("10:00:20")),
        ("b", 1, t("10:00:25")), ("c", 1, t("10:00:30")),
    ], 0)
    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    got: list[tuple] = []

    def sink(df, batch_id):
        got.extend((r.window_start, r.key, r.n, r.rank)
                   for r in df.collect())

    q = streaming_windowed_topk(
        src.df, "key", "ts", "1 minute", k=2, sink=sink,
        checkpoint=f"{tmpdir}/ckpt", salt_parts=4)
    try:
        q.processAllAvailable()
        assert got == []        # watermark still at epoch: nothing closed
        # 11:00 window: d×2, e×1 — advances watermark past 10:01
        _write_batch(spark, tmpdir, [
            ("d", 1, t("11:00:05")), ("d", 1, t("11:00:10")),
            ("e", 1, t("11:00:15")),
        ], 1)
        q.processAllAvailable()
        assert sorted(got) == [
            (t("10:00:00"), "a", 3, 1), (t("10:00:00"), "b", 2, 2)]
        # push the watermark past 11:01 → the 11:00 window closes;
        # the 10:00 window must NOT re-emit
        _write_batch(spark, tmpdir, [("z", 1, t("12:00:00"))], 2)
        q.processAllAvailable()
        assert sorted(got) == [
            (t("10:00:00"), "a", 3, 1), (t("10:00:00"), "b", 2, 2),
            (t("11:00:00"), "d", 2, 1), (t("11:00:00"), "e", 1, 2)]
    finally:
        q.stop()


def test_streaming_windowed_topk_tie_break_deterministic(spark, tmpdir):
    """Equal counts rank by key ascending — the deterministic tiebreak
    that makes replays idempotent."""
    from kafkadirect_spark.streaming.topk import streaming_windowed_topk

    _write_batch(spark, tmpdir, [
        ("x", 1, t("10:00:05")), ("y", 1, t("10:00:10")),
        ("w", 1, t("10:00:15")),
    ], 0)
    src = stream_from_dir(spark, f"{tmpdir}/in/*", KV, key="key", ts="ts")
    got = []

    def sink(df, batch_id):
        got.extend((r.key, r.rank) for r in df.collect())

    q = streaming_windowed_topk(
        src.df, "key", "ts", "1 minute", k=2, sink=sink,
        checkpoint=f"{tmpdir}/ckpt2", salt_parts=4)
    try:
        q.processAllAvailable()
        _write_batch(spark, tmpdir, [("z", 1, t("12:00:00"))], 1)
        q.processAllAvailable()
        assert sorted(got) == [("w", 1), ("x", 2)]
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# Streaming near-duplicate detection (streaming/dedup.py)
# ---------------------------------------------------------------------------

def test_row_signatures_match_groupby_formulation(spark):
    """The per-row array-expression signature (now the ONE shared
    implementation, batch + streaming) equals the classic explode +
    groupBy(doc) MinHash formulation for every document — pins the
    row-local rewrite to the historical semantics."""
    from kafkadirect_spark.functions.dedup import HASH_P, PERMS
    from kafkadirect_spark.functions.dedup import minhash_signatures
    from kafkadirect_spark.functions.text import (portable_hash, shingles,
                                                  tokens)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = docs.select(
        "doc_id", F.explode(shingles(tokens("text"), 3)).alias("g"))
    h0 = portable_hash(F.col("g"))
    ref = {r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(32))
           for r in sh.groupBy("doc_id").agg(*[
               F.min((h0 * F.lit(a) + F.lit(b)) % F.lit(HASH_P))
               .alias(f"sig_{i}")
               for i, (a, b) in enumerate(PERMS)]).collect()}
    row = {r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(32))
           for r in minhash_signatures(docs, "text", "doc_id").collect()}
    assert row == ref


def test_streaming_lsh_candidates_golden(spark, tmpdir):
    """Cross-batch near-dup detection: a copy arriving later pairs
    with the original; a copy beyond the horizon does not (state
    pruned); unrelated text never pairs."""
    from kafkadirect_spark.streaming.dedup import streaming_lsh_candidates

    DOC = "doc_id long, text string, ts timestamp"
    a = ("the quick brown fox jumps over the lazy dog again and again "
         "while the cat watches from the fence")
    b = "completely unrelated content about database query planners"

    def write(rows, n):
        spark.createDataFrame(rows, DOC).coalesce(1).write.mode(
            "overwrite").parquet(f"{tmpdir}/in/b{n}")

    write([(1, a, t("10:00:00")), (2, b, t("10:00:01"))], 0)
    src = stream_from_dir(spark, f"{tmpdir}/in/*", DOC, key="doc_id", ts="ts")
    out = streaming_lsh_candidates(
        src.df, "doc_id", "text", "ts", horizon="10 minutes")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("lsh_cand")
         .option("checkpointLocation", f"{tmpdir}/ckpt_lsh").start())
    try:
        q.processAllAvailable()
        # batch 1: a copy of doc 1 within the horizon → candidate pair
        write([(3, a, t("10:05:00"))], 1)
        q.processAllAvailable()
        pairs = {(r.id_new, r.id_prior) for r in
                 spark.sql("SELECT * FROM lsh_cand").collect()}
        assert pairs == {(3, 1)}
        # batch 2: another copy, but far beyond the horizon of 1 and 3
        # (watermark advances past their ts + horizon, pruning state)
        write([(4, a, t("11:00:00"))], 2)
        q.processAllAvailable()
        write([(5, a, t("12:00:00"))], 3)
        q.processAllAvailable()
        pairs = {(r.id_new, r.id_prior) for r in
                 spark.sql("SELECT * FROM lsh_cand").collect()}
        # 4 paired with nobody (1,3 expired); 5 paired with nobody
        # (4 expired once the watermark reached 11:00+10min)
        assert pairs == {(3, 1)}
    finally:
        q.stop()


def test_streaming_funnel_out_of_order_and_late(spark, tmpdir):
    """Event-time funnel: a signup that ARRIVES after its own view
    still completes step 1 first once the watermark seals both (the
    batch-cascade order); a record behind the sealed frontier is
    dropped; milestones emit exactly once per step."""
    from kafkadirect_spark.streaming.funnel import streaming_funnel

    S = "user_id string, ts timestamp, event_type string"
    # b0: u1's view arrives BEFORE its signup; u2 signs up at t=0
    spark.createDataFrame([("u1", t("00:01:00"), "view"),
                           ("u2", t("00:00:00"), "signup")], S) \
        .coalesce(1).write.parquet(f"{tmpdir}/ev/b0")
    src = stream_from_dir(spark, f"{tmpdir}/ev/*", S).df
    out = streaming_funnel(src, "user_id", "ts", "event_type",
                           ["signup", "view"], grace="10 seconds")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("funnel")
         .option("checkpointLocation", f"{tmpdir}/ckpt_funnel").start())
    try:
        q.processAllAvailable()
        # watermark after b0 = 00:50; nothing sealed yet for u1/u2
        # b1: u1's out-of-order signup (00:55 > wm) + a watermark
        # driver on another key
        spark.createDataFrame([("u1", t("00:00:55"), "signup"),
                               ("u9", t("00:02:00"), "view")], S) \
            .coalesce(1).write.parquet(f"{tmpdir}/ev/b1")
        q.processAllAvailable()
        got = {(r.user_id, r.step, r.event_type, r.step_ts)
               for r in spark.sql("SELECT * FROM funnel").collect()}
        # u2 seals as soon as the watermark passes t=0; u1's pair
        # seals via the event-time timeout once the u9 row pushes the
        # watermark past 01:00 — the out-of-order signup (arrived
        # AFTER the view) still completes step 1 first, at its
        # earlier event time
        assert ("u2", 1, "signup", t("00:00:00")) in got
        assert ("u1", 1, "signup", t("00:00:55")) in got
        assert ("u1", 2, "view", t("00:01:00")) in got
        # b2: a late u2 view (00:10 — behind u2's sealed frontier)
        # plus another watermark push: the late record must NOT
        # produce a step-2 milestone, and nothing re-emits
        spark.createDataFrame([("u2", t("00:00:10"), "view"),
                               ("u9", t("00:03:00"), "view")], S) \
            .coalesce(1).write.parquet(f"{tmpdir}/ev/b2")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM funnel").collect()
        got = {(r.user_id, r.step, r.event_type, r.step_ts) for r in rows}
        assert not any(u == "u2" and s == 2 for u, s, *_ in got)
        assert len(rows) == len(got) == 3                  # once each
    finally:
        q.stop()


def test_streaming_funnel_conversion_window_and_guards(spark, tmpdir):
    """within_seconds counts from the sealed step-0 time; guards
    mirror the batch operator."""
    from kafkadirect_spark.streaming.funnel import streaming_funnel

    S = "user_id string, ts timestamp, event_type string"
    spark.createDataFrame([("u1", t("00:00:00"), "signup"),
                           ("u1", t("00:02:00"), "view")], S) \
        .coalesce(1).write.parquet(f"{tmpdir}/ev2/b0")
    src = stream_from_dir(spark, f"{tmpdir}/ev2/*", S).df
    out = streaming_funnel(src, "user_id", "ts", "event_type",
                           ["signup", "view"], grace="0 seconds",
                           within_seconds=60)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("funnel2")
         .option("checkpointLocation", f"{tmpdir}/ckpt_funnel2").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame([("u9", t("00:10:00"), "signup")], S) \
            .coalesce(1).write.parquet(f"{tmpdir}/ev2/b1")
        q.processAllAvailable()
        got = {(r.user_id, r.step) for r in
               spark.sql("SELECT * FROM funnel2").collect()}
        # the view at +120 s falls outside the 60 s window
        assert got == {("u1", 1)}
    finally:
        q.stop()
    with pytest.raises(ValueError, match="at least 2"):
        streaming_funnel(src, "user_id", "ts", "event_type", ["x"])
    with pytest.raises(ValueError, match="distinct"):
        streaming_funnel(src, "user_id", "ts", "event_type", ["x", "x"])
    with pytest.raises(ValueError, match="within_seconds"):
        streaming_funnel(src, "user_id", "ts", "event_type",
                         ["x", "y"], within_seconds=0)


def test_streaming_rate_alerts_spike_and_late(spark, tmpdir):
    """Windows close exactly once with an exact-median baseline; a
    spike window alerts only after min_history windows have closed;
    a late event behind a closed window is dropped."""
    from kafkadirect_spark.streaming.anomaly import streaming_rate_alerts

    S = "user_id string, ts timestamp, event_type string"

    def ev(sec, n=1, ty="err"):
        return [(f"u{i}", t(f"00:{sec // 60:02d}:{sec % 60:02d}"), ty)
                for i in range(n)]

    # minutes 0..3 steady at 2 events; minute 4 spikes to 12
    b0 = ev(10, 2) + ev(70, 2) + ev(130, 2) + ev(190, 2) + ev(250, 12)
    spark.createDataFrame(b0, S).coalesce(1) \
        .write.parquet(f"{tmpdir}/ra/b0")
    src = stream_from_dir(spark, f"{tmpdir}/ra/*", S).df
    out = streaming_rate_alerts(src, "event_type", "ts",
                                window="1 minute", history=8,
                                min_history=3,
                                threshold_permille=500)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("alerts")
         .option("checkpointLocation", f"{tmpdir}/ckpt_ra").start())
    try:
        q.processAllAvailable()
        # watermark driver closes minute 4; plus one LATE event for
        # minute 0 (already closed) that must change nothing
        spark.createDataFrame(ev(400, 1) + ev(15, 1), S) \
            .coalesce(1).write.parquet(f"{tmpdir}/ra/b1")
        q.processAllAvailable()
        rows = {int((r.window_start - t("00:00:00")).total_seconds())
                // 60:
                (r.n_events, r.baseline_median, r.dev_permille,
                 r.is_alert)
                for r in spark.sql("SELECT * FROM alerts").collect()}
        assert rows[0] == (2, 0, 2000, False)     # no history yet
        assert rows[1] == (2, 2, 0, False)
        assert rows[2] == (2, 2, 0, False)
        assert rows[3] == (2, 2, 0, False)
        # spike: median of [2,2,2,2] = 2 -> dev 5000 > 500, alerted
        assert rows[4] == (12, 2, 5000, True)
        # minute 5 had NO events but the watermark (from the minute-6
        # driver event) closed it anyway: the synthesized zero-count
        # window scores against median [2,2,2,2,12] = 2 and alerts —
        # traffic collapse is detected (ADVICE r12)
        assert rows[5] == (0, 2, 1000, True)
        assert len(rows) == 6                     # late row added nothing
    finally:
        q.stop()
    with pytest.raises(ValueError, match="min_history"):
        streaming_rate_alerts(src, "event_type", "ts", history=2,
                              min_history=3)
    with pytest.raises(ValueError, match="threshold"):
        streaming_rate_alerts(src, "event_type", "ts",
                              threshold_permille=0)


def test_streaming_rate_alerts_collapse_and_expiry(spark, tmpdir):
    """A key that goes silent synthesizes zero-count windows (collapse
    alerts), expires after `history` consecutive zero closes with
    nothing pending, and starts COLD if it returns (ADVICE r12)."""
    from kafkadirect_spark.streaming.anomaly import streaming_rate_alerts

    S = "user_id string, ts timestamp, event_type string"

    def ev(sec, n=1, ty="err"):
        return [(f"u{i}", t(f"00:{sec // 60:02d}:{sec % 60:02d}"), ty)
                for i in range(n)]

    # "err" bursts in minute 0 then goes silent; "ok" ticks every
    # minute 0..6 purely to advance the watermark past err's silence
    b0 = ev(10, 4)
    for m in range(7):
        b0 += ev(m * 60 + 5, 1, ty="ok")
    spark.createDataFrame(b0, S).coalesce(1) \
        .write.parquet(f"{tmpdir}/rc/b0")
    src = stream_from_dir(spark, f"{tmpdir}/rc/*", S).df
    # key on event_type so the steady "ok" key drives the watermark
    # across "err"'s silent minutes
    out = streaming_rate_alerts(src, "event_type", "ts",
                                window="1 minute", history=2,
                                min_history=1, threshold_permille=500)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("collapse")
         .option("checkpointLocation", f"{tmpdir}/ckpt_rc").start())
    try:
        q.processAllAvailable()
        # err returns in minute 8 after the expiry gap; the ok driver
        # event lands in minute 9 so the watermark closes minute 8
        spark.createDataFrame(ev(485, 1) + ev(555, 1, ty="ok"), S) \
            .coalesce(1).write.parquet(f"{tmpdir}/rc/b1")
        q.processAllAvailable()
        err = {int((r.window_start - t("00:00:00")).total_seconds())
               // 60:
               (r.n_events, r.baseline_median, r.dev_permille,
                r.is_alert)
               for r in spark.sql(
                   "SELECT * FROM collapse WHERE event_type='err'")
               .collect()}
        assert err[0] == (4, 0, 4000, False)   # cold: no history yet
        # silent minutes synthesize zeros and ALERT against the median
        # — which stays 4 (zero closes never enter the baseline, so a
        # sparse key is never scored against a zero-polluted median)
        assert err[1] == (0, 4, 1000, True)
        assert err[2] == (0, 4, 1000, True)
        # after minute 2 the zero-run hits `history`=2 and nothing is
        # pending -> state removed: minutes 3..7 emit NO rows
        # (bounded synthesis), and the comeback window is COLD
        assert err[8] == (1, 0, 1000, False)
        assert set(err) == {0, 1, 2, 8}
    finally:
        q.stop()


def test_streaming_rate_alerts_sparse_key_and_bounded_synthesis(
        spark, tmpdir):
    """Review findings (round 13): (a) a legitimately sparse key's
    DATA windows never false-alert — zero closes stay out of the
    baseline, so traffic is scored against 'typical traffic when
    there is traffic'; (b) one clock-skewed far-future event cannot
    trigger per-window synthesis across the gap — after `history`
    consecutive zero closes the frontier jumps to the next window
    holding data."""
    from kafkadirect_spark.streaming.anomaly import streaming_rate_alerts

    S = "user_id string, ts timestamp, event_type string"

    def ev(sec, n=1, ty="err"):
        return [(f"u{i}", t(f"{sec // 3600:02d}:"
                            f"{sec % 3600 // 60:02d}:{sec % 60:02d}"),
                 ty) for i in range(n)]

    # (a) sparse: err fires 1 event in minutes 0, 3, 6; ok every
    # minute 0..7 drives the watermark
    b0 = ev(10, 1) + ev(190, 1) + ev(370, 1)
    for m in range(8):
        b0 += ev(m * 60 + 5, 1, ty="ok")
    spark.createDataFrame(b0, S).coalesce(1) \
        .write.parquet(f"{tmpdir}/rs/b0")
    src = stream_from_dir(spark, f"{tmpdir}/rs/*", S).df
    out = streaming_rate_alerts(src, "event_type", "ts",
                                window="1 minute", history=3,
                                min_history=1, threshold_permille=500)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sparse")
         .option("checkpointLocation", f"{tmpdir}/ckpt_rs").start())
    try:
        q.processAllAvailable()
        err = {int((r.window_start - t("00:00:00")).total_seconds())
               // 60:
               (r.n_events, r.baseline_median, r.dev_permille,
                r.is_alert)
               for r in spark.sql(
                   "SELECT * FROM sparse WHERE event_type='err'")
               .collect()}
        # the firing windows NEVER alert (median stays 1, dev 0) —
        # pre-fix these scored against a zero-polluted median and
        # false-alerted on every normal window
        assert err[0] == (1, 0, 1000, False)      # cold
        assert err[3] == (1, 1, 0, False)
        assert err[6] == (1, 1, 0, False)
        # the silent minutes between firings do report collapse
        assert err[1] == (0, 1, 1000, True)
        assert err[4] == (0, 1, 1000, True)
    finally:
        q.stop()

    # (b) poison: err has minutes 0..2 steady, then ONE event ~70
    # days out; the seal emits exactly `history` zero rows, jumps,
    # and the far window stays open — never one row per skipped
    # window
    import datetime as _dt
    poison_ts = (t("00:00:00")
                 + _dt.timedelta(seconds=6_000_000))
    b0 = (ev(10, 2) + ev(70, 2) + ev(130, 2)
          + [("u0", poison_ts, "err")])
    spark.createDataFrame(b0, S).coalesce(1) \
        .write.parquet(f"{tmpdir}/rp/b0")
    src = stream_from_dir(spark, f"{tmpdir}/rp/*", S).df
    out = streaming_rate_alerts(src, "event_type", "ts",
                                window="1 minute", history=3,
                                min_history=2, threshold_permille=500)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("poison")
         .option("checkpointLocation", f"{tmpdir}/ckpt_rp").start())
    try:
        q.processAllAvailable()
        rows = {int((r.window_start - t("00:00:00")).total_seconds())
                // 60:
                (r.n_events, r.is_alert)
                for r in spark.sql("SELECT * FROM poison").collect()}
        # minutes 0-2 data + exactly `history`=3 zero rows; the
        # ~100k intermediate windows emit NOTHING
        assert set(rows) == {0, 1, 2, 3, 4, 5}
        assert rows[0] == (2, False) and rows[2] == (2, False)
        assert rows[3] == (0, True) and rows[5] == (0, True)
    finally:
        q.stop()

def test_streaming_decontaminate_matches_batch(spark, tmpdir):
    """The stateless ingest flag equals batch curation.decontaminate
    bit-for-bit across micro-batches; the plan is stateless (no
    stateful operator in the streaming query); the eval-size guard
    raises loudly."""
    from kafkadirect_spark.functions import curation
    from kafkadirect_spark.streaming.decontaminate import (
        streaming_decontaminate,
    )

    S = "doc_id long, ts timestamp, text string"
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    rows0 = [
        (1, t("00:00:01"), "the quick brown fox jumps over the lazy dog today"),
        (2, t("00:00:02"), "completely unrelated text with many words here now"),
        (3, t("00:00:03"), "short"),
    ]
    rows1 = [
        (4, t("00:01:01"), "prefix words then the quick brown fox jumps over the lazy dog"),
        (5, t("00:01:02"), "another clean document streaming through the gate now yes"),
    ]
    spark.createDataFrame(rows0, S).coalesce(1) \
        .write.parquet(f"{tmpdir}/dc/b0")
    src = stream_from_dir(spark, f"{tmpdir}/dc/*", S).df
    out = streaming_decontaminate(src, eval_df, "text", n=8)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("decon")
         .option("checkpointLocation", f"{tmpdir}/ckpt_dc").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows1, S).coalesce(1) \
            .write.parquet(f"{tmpdir}/dc/b1")
        q.processAllAvailable()
        got = {r.doc_id: r.contaminated for r in
               spark.sql("SELECT * FROM decon").collect()}
        batch = spark.createDataFrame(rows0 + rows1, S)
        want = {r.doc_id: r.contaminated for r in curation.decontaminate(
            batch, eval_df, "text", "doc_id", n=8).collect()}
        assert got == want and len(got) == 5
        assert got[1] and got[4]            # leaked 8-gram present
        assert not got[2] and not got[3] and not got[5]
        # stateless: the running query reports no state store rows
        prog = q.lastProgress
        assert not prog or all(
            s.get("numRowsTotal", 0) == 0
            for s in prog.get("stateOperators", []))
    finally:
        q.stop()
    with pytest.raises(ValueError, match="max_eval_grams"):
        streaming_decontaminate(src, eval_df, "text", n=8,
                                max_eval_grams=1)
    with pytest.raises(ValueError, match="n must"):
        streaming_decontaminate(src, eval_df, "text", n=0)


def test_rate_alert_state_upgrade_derives_frontier():
    """ADVICE r13 (medium): restoring a PRE-frontier-format checkpoint
    (no 'f'/'z' keys) must derive the frontier from the pending open
    windows — not pin it to None, which either dropped the pending
    counts on the first timeout (state.remove()) or, after a new
    arrival, stranded older open windows below a re-anchored frontier
    where the z>=history jump could re-emit sealed windows."""
    from kafkadirect_spark.streaming.anomaly import _upgrade_state

    # old-format state with pending windows: frontier = their min
    st = _upgrade_state({"open": {"120000": 1, "60000": 3},
                         "hist": [2, 2]})
    assert st["f"] == 60000 and st["z"] == 0
    assert st["open"] == {"120000": 1, "60000": 3}    # counts kept
    # old-format state with nothing pending: stays None (the seal
    # loop is a no-op and the empty key is removed — correct)
    assert _upgrade_state({"open": {}, "hist": []})["f"] is None
    # current-format passthrough: untouched
    cur = {"open": {"60000": 1}, "hist": [1], "f": 60000, "z": 2}
    assert _upgrade_state(dict(cur)) == cur
    # fresh-key initial dict: unchanged shape
    fresh = _upgrade_state({"open": {}, "hist": [], "f": None, "z": 0})
    assert fresh["f"] is None and fresh["z"] == 0


def test_streaming_cusum_alerts_shift_rearm_and_late(spark, tmpdir):
    """Watermark-sealed value-shift monitor: warmup median reference,
    alarm at the exact crossing event, re-arm catches a second shift,
    out-of-order arrivals fold in event-time order, and a late event
    behind the seal changes nothing."""
    from kafkadirect_spark.streaming.cusum import streaming_cusum_alerts

    S = "user_id string, ts timestamp, value double"

    def ev(sec, v, u="k1"):
        return (u, t(f"00:{sec // 60:02d}:{sec % 60:02d}"), v)

    # warmup = 4 points of ~2.0 (median 2000); then a +3.0 shift:
    # devs +3000 each -> S+ crosses h=5000 at the SECOND shifted
    # point (6000); re-armed, the next two shifted points cross
    # again (3000 -> 6000) at the fourth.  Batch 0 is deliberately
    # OUT OF ORDER within itself (the seal must sort it).
    b0 = [ev(3, 2.0), ev(1, 1.9), ev(2, 2.1), ev(4, 2.0),
          ev(10, 5.0), ev(11, 5.0), ev(12, 5.0), ev(13, 5.0),
          ev(60, 2.0)]                     # watermark driver
    import random
    random.Random(7).shuffle(b0)
    spark.createDataFrame(b0, S).coalesce(1) \
        .write.parquet(f"{tmpdir}/cu/b0")
    src = stream_from_dir(spark, f"{tmpdir}/cu/*", S).df
    out = streaming_cusum_alerts(src, "user_id", "ts", "value",
                                 h_milli=5000, warmup=4)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("cusum")
         .option("checkpointLocation", f"{tmpdir}/ckpt_cu").start())
    try:
        q.processAllAvailable()
        # a LATE low value behind the seal must be dropped, and a
        # later downward shift must alarm 'down' after re-arm
        b1 = [ev(5, -50.0),                 # late: behind watermark
              ev(70, -1.0), ev(71, -1.0), ev(72, -1.0),
              ev(120, 2.0)]                 # watermark driver
        spark.createDataFrame(b1, S).coalesce(1) \
            .write.parquet(f"{tmpdir}/cu/b1")
        q.processAllAvailable()
        rows = [(int((r.alarm_ts - t("00:00:00")).total_seconds()),
                 r.direction, r.stat_milli, r.ref_milli)
                for r in spark.sql(
                    "SELECT * FROM cusum ORDER BY alarm_ts").collect()]
        # warmup median of [1900, 2000, 2100, 2000] -> 2000
        assert rows[0] == (11, "up", 6000, 2000)      # first crossing
        assert rows[1] == (13, "up", 6000, 2000)      # re-armed
        # downward: devs -3000 each, crosses 5000 at the second point
        assert rows[2] == (71, "down", 6000, 2000)
        assert len(rows) == 3               # late row added nothing
    finally:
        q.stop()
    with pytest.raises(ValueError, match="h_milli"):
        streaming_cusum_alerts(src, "user_id", "ts", "value",
                               h_milli=0)
    with pytest.raises(ValueError, match="warmup"):
        streaming_cusum_alerts(src, "user_id", "ts", "value",
                               h_milli=100, warmup=0)


def test_streaming_cusum_state_envelope_high_cardinality(spark, tmpdir):
    """State-growth envelope under key churn (VERDICT r14 item 6).
    The monitor's documented never-expire policy makes key
    CARDINALITY the one open state-growth vector across the streaming
    modules — so pin the envelope by reading the checkpoint back
    through the state-store data source: total state rows == distinct
    keys ever seen (never-expire, growth is O(keys)); every sealed
    key's unsealed buffer is EMPTY once the watermark passes it;
    warmup storage caps at `warmup` values; and the serialized
    per-key record stays under a fixed byte bound REGARDLESS of how
    many events the key folded (the hot key folds 60 sealed points,
    the churn keys one each, same envelope) — state is O(keys), never
    O(events)."""
    import json

    from kafkadirect_spark.streaming.cusum import streaming_cusum_alerts

    S = "user_id string, ts timestamp, value double"
    churn = [(f"churn{i}", t("00:00:01"), 2.0) for i in range(300)]
    hot = [("hot", t(f"00:00:{s:02d}"), 2.0 + (s % 3))
           for s in range(60)]
    b0 = churn + hot + [("wm", t("01:00:00"), 2.0)]
    spark.createDataFrame(b0, S).coalesce(1) \
        .write.parquet(f"{tmpdir}/cu/b0")
    src = stream_from_dir(spark, f"{tmpdir}/cu/*", S).df
    out = streaming_cusum_alerts(src, "user_id", "ts", "value",
                                 h_milli=10_000, warmup=4)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("cusum_env")
         .option("checkpointLocation", f"{tmpdir}/ckpt_env").start())
    try:
        q.processAllAvailable()
        # advance the watermark past every buffered event so the
        # churn keys' event-time timeouts fire and their buffers seal
        spark.createDataFrame([("wm", t("02:00:00"), 2.0)], S) \
            .coalesce(1).write.parquet(f"{tmpdir}/cu/b1")
        q.processAllAvailable()
    finally:
        q.stop()
    st = {r.key.user_id: r.value.groupState.state
          for r in spark.read.format("statestore")
          .load(f"{tmpdir}/ckpt_env").collect()}
    # never-expire: every key ever seen holds exactly one state row
    assert len(st) == 302                     # 300 churn + hot + wm
    envelope = max(len(s) for s in st.values())
    for key, raw in st.items():
        d = json.loads(raw)
        if key != "wm":                       # the final watermark
            # driver's own last event is legitimately still pending
            # (nothing later exists to seal it) — everything else
            # drained
            assert d["buf"] == [], key
        assert len(d["buf"]) <= 1, key        # pending ≤ the unsealed tail
        assert len(d["warm"]) <= 4, key       # warmup cap
        assert len(raw) <= 160, (key, len(raw), raw)
    # the 60-event hot key fits the SAME envelope as one-event keys:
    # its points folded into (ref, sp, sn) and were not retained
    hot_d = json.loads(st["hot"])
    assert hot_d["ref"] is not None and hot_d["warm"] == []
    assert len(st["hot"]) <= envelope
    # total state is key-linear with a pinned constant: ≤ 160 B/key
    assert sum(len(s) for s in st.values()) <= 160 * 302
