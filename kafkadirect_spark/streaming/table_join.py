"""Streaming KTable ⋈ KTable — continuous dual-snapshot join.

Reference: KTable.java:725,887,1055 → KTableKTableInnerJoin.java:154,
KTableKTableLeftJoin / KTableKTableOuterJoin, merged through
KTableKTableJoinMerger.java:111 — an update on EITHER side looks up
the other side's current materialized state and forwards the new join
result (null result ≙ tombstone) downstream as a changelog.

Spark has no native changelog-stream join, so the mapping composes
pieces that already exist here (SURVEY.md §2.3 divergence note):

- the two changelogs arrive as ONE union stream tagged ``_src``
  (L/R), so a single foreachBatch observes every update in arrival
  order — the analogue of both join processors sharing a task;
- each side merges into its durable latest-by-key snapshot store
  (the bounded O(|keys|) state of streaming/retraction.py);
- the two snapshots join (inner/left/outer) per trigger, and the
  DIFF against the previously-emitted join snapshot goes to the sink:
  upserts for new/changed keys, explicit tombstones (null value
  columns) for keys that left the result — exactly what
  KTableKTableJoinMerger forwards.

Work per trigger is O(|keys_left| + |keys_right|) snapshot merge +
one keyed join — never O(changelog).  The per-trigger diff is written
to the store and the sink receives a scan of it — no driver
materialization.  Replayed batches after a crash are detected by the
stores' recorded batch ids and re-emit the recorded changelog, which
a changelog consumer applies idempotently per key.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafkadirect_spark.streaming.retraction import _SnapshotStore


def streaming_table_table_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    order_by: str,
    sink: Callable[[DataFrame, int], None],
    how: str = "inner",
    left_cols: list[str] | None = None,
    right_cols: list[str] | None = None,
    left_tombstone: str | None = None,
    right_tombstone: str | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Start the continuous table-table join; ``sink(diff_df, batch_id)``
    receives per trigger a DataFrame — the CHANGELOG of the join view —
    columns (key, <left_cols>, <right_cols>, _change) where ``_change``
    is 'upsert' or 'delete' (value columns null on delete — the
    forwarded tombstone of KTableKTableJoinMerger.java:111).

    The diff is materialized to the store before the sink runs, so the
    handed frame is a plain scan: the sink may write it anywhere
    without pulling it through the driver (collect only in tests).
    The frame is valid DURING its trigger only — consume it (write or
    collect) inside the sink call; changelog files older than the
    previous trigger are pruned, so a frame held across triggers
    eventually reads deleted files.  A replayed batch re-emits the
    recorded changelog of its trigger — changelog upserts/deletes are
    idempotent per key, so re-application is safe (at-least-once on
    the crash edge, never lost).

    ``left``/``right`` are streaming changelogs sharing ``key`` and
    ``order_by`` column names but DISJOINT value column names (the same
    contract as the batch Table.join).  ``*_tombstone``: value column
    whose NULL marks a delete on that side (LogCleaner semantics).
    ``how`` ∈ {inner, left, outer}.  ``checkpoint`` is required: the
    snapshot stores and the changelog live under
    ``<checkpoint>/snapshots``, so a restart from the checkpoint finds
    both sides' state.
    """
    from kafkadirect_spark.core import Table

    if how not in ("inner", "left", "outer"):
        raise ValueError(f"how must be inner/left/outer, got {how!r}")
    left_cols = list(left_cols or
                     [c for c in left.columns if c not in (key, order_by)])
    right_cols = list(right_cols or
                      [c for c in right.columns if c not in (key, order_by)])
    overlap = set(left_cols) & set(right_cols)
    if overlap:
        raise ValueError(f"value column names must be disjoint: {overlap}")

    tagged = (
        left.select(key, order_by, *left_cols)
        .withColumn("_src", F.lit("L"))
        .unionByName(
            right.select(key, order_by, *right_cols)
            .withColumn("_src", F.lit("R")),
            allowMissingColumns=True)
    )

    base = _SnapshotStore.under(checkpoint)
    stores = {s: _SnapshotStore(f"{base}/{s}") for s in ("L", "R", "J")}
    sides = {
        "L": ([order_by, *left_cols], left_tombstone),
        "R": ([order_by, *right_cols], right_tombstone),
    }
    out_cols = [*left_cols, *right_cols]
    spark_how = {"outer": "full_outer"}[how] if how == "outer" else how

    def _merge_side(spark, batch: DataFrame, batch_id: int, side: str):
        """Fold this side's slice of the batch into its snapshot store
        (idempotent on replay); returns the current snapshot."""
        store = stores[side]
        cols, tomb = sides[side]
        head = store.latest()
        rows = batch.filter(F.col("_src") == side).select(key, *cols)
        if head is not None and batch_id <= head[1]:
            return store.read(spark, head[0])
        log = rows if head is None else \
            store.read(spark, head[0]).unionByName(rows)
        snap = Table.from_changelog(
            log, key=key, order_by=F.col(order_by),
            value_cols=cols, tombstone_col=tomb).df
        version = (head[0] + 1) if head is not None else 0
        store.commit(snap, version, batch_id)
        return store.read(spark, version)

    def per_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        lsnap = _merge_side(spark, batch, batch_id, "L")
        rsnap = _merge_side(spark, batch, batch_id, "R")
        joined = (
            lsnap.select(key, *left_cols)
            .join(rsnap.select(key, *right_cols), on=[key], how=spark_how)
            .select(key, *out_cols)
        )
        jstore, jhead = stores["J"], stores["J"].latest()
        if jhead is not None and batch_id <= jhead[1]:
            # Post-crash replay: state is current; re-emit the recorded
            # changelog of the latest trigger (idempotent per key).
            prior = f"{base}/J_changelog/v={jhead[0]}"
            if os.path.isdir(prior):
                sink(spark.read.parquet(prior), batch_id)
            else:
                sink(joined.limit(0).select(
                    key, *out_cols, F.lit("upsert").alias("_change")),
                    batch_id)
            return
        new = joined.select(key, F.struct(*out_cols).alias("_n"))
        if jhead is None:
            changes = new.withColumn("_o", F.lit(None).cast(new.schema["_n"].dataType))
        else:
            old = (jstore.read(spark, jhead[0])
                   .select(key, F.struct(*out_cols).alias("_o")))
            changes = new.join(old, on=[key], how="full_outer")
        diff = (
            changes.filter(~F.col("_n").eqNullSafe(F.col("_o")))
            .select(
                key,
                *[F.col(f"_n.{c}").alias(c) for c in out_cols],
                F.when(F.col("_n").isNotNull(), F.lit("upsert"))
                .otherwise(F.lit("delete")).alias("_change"),
            )
        )
        version = (jhead[0] + 1) if jhead else 0
        # Materialize the diff BEFORE committing: commit prunes the old
        # snapshot version the lazy diff still reads, and a durable
        # changelog is what makes crash replay re-emittable.
        diff_dir = f"{base}/J_changelog/v={version}"
        diff.write.mode("overwrite").parquet(diff_dir)
        jstore.commit(joined, version, batch_id)
        # Keep the previous trigger's changelog too: the sink's frame
        # for version N-1 may still be lazily evaluated while trigger
        # N runs; anything older is unreachable by the contract.
        for name in os.listdir(f"{base}/J_changelog"):
            if name.startswith("v=") and int(name[2:]) < version - 1:
                shutil.rmtree(f"{base}/J_changelog/{name}", ignore_errors=True)
        sink(spark.read.parquet(diff_dir), batch_id)

    return (tagged.writeStream.outputMode("append")
            .foreachBatch(per_batch)
            .option("checkpointLocation", checkpoint).start())
