"""KTable groupBy → aggregate with adder + subtractor (retraction).

Reference: KTable.java:584 → KTableRepartitionMap.java and
KTableAggregate.java:72-98 — on a key's value update the old value is
*subtracted* from its old group and the new value *added* to its new
group, so a re-keyed aggregate over a changing table stays correct.

Spark can't feed an aggregate's own retraction stream into another
aggregate, so the streaming path recomputes from the snapshot per
microbatch (SURVEY.md §7 "What's hard"): ``foreachBatch`` maintains
the latest-by-key table state, then re-aggregates the full snapshot —
the batch semantics, applied incrementally.

State is a DURABLE keyed snapshot store: one parquet snapshot of the
latest-by-key table per applied batch, written to a fresh version
directory and pruned after commit.  Storage and per-trigger work are
O(|distinct keys|) — never O(changelog length) — which is the
bounded-state shape at 100 TB; this mirrors how the reference
materializes KTable aggregates to a compacted changelog topic
(KTableAggregate.java via the store → changelog at
MeteredKeyValueStore/ChangeLoggingKeyValueBytesStore) rather than
replaying history per update.  Restart-safety: each version records
the batch id that produced it, so a microbatch replayed by the
checkpoint after a crash is folded in idempotently (skip-merge,
re-emit) — the foreachBatch exactly-once recipe.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def table_group_aggregate(
    snapshot: DataFrame,
    group_exprs: list[Column],
    aggs: list[Column],
) -> DataFrame:
    """Batch/per-batch core: re-aggregate the current latest-by-key
    snapshot.  Retraction collapses — removed/updated old values are
    simply absent from the snapshot (KTableAggregate.java:83 remove ∘
    :98 add ≙ recompute)."""
    return snapshot.groupBy(*group_exprs).agg(*aggs)


class _SnapshotStore:
    """Versioned parquet store of a latest-by-key snapshot.

    Layout: ``<dir>/v=<n>/`` (parquet) + ``<dir>/v=<n>/_APPLIED.json``
    holding the batch id folded into that version.  A new batch writes
    version n+1 while n stays readable, then prunes ≤ n — so a crash
    mid-write leaves the last committed version intact.  On a local FS
    this is the plain-files version of what Delta's transaction log
    provides; swap the paths for object-store URIs unchanged.
    """

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    @staticmethod
    def under(checkpoint: str | None) -> str:
        """``<checkpoint>/snapshots``: the store lives and dies with the
        query's checkpoint, so a restart from the checkpoint alone
        finds its state.  Raises when ``checkpoint`` is missing."""
        if not checkpoint:
            raise ValueError(
                "checkpoint is required: the snapshot store is kept "
                "under <checkpoint>/snapshots")
        return os.path.join(checkpoint, "snapshots")

    def _versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.path):
            if name.startswith("v=") and os.path.exists(
                    os.path.join(self.path, name, "_APPLIED.json")):
                out.append(int(name[2:]))
        return sorted(out)

    def latest(self) -> tuple[int, int] | None:
        """(version, applied_batch_id) of the newest committed
        snapshot, or None when the store is empty."""
        vs = self._versions()
        if not vs:
            return None
        v = vs[-1]
        with open(os.path.join(self.path, f"v={v}", "_APPLIED.json")) as f:
            return v, json.load(f)["batch_id"]

    def read(self, spark, version: int) -> DataFrame:
        return spark.read.parquet(os.path.join(self.path, f"v={version}"))

    def commit(self, snap: DataFrame, version: int, batch_id: int) -> None:
        vdir = os.path.join(self.path, f"v={version}")
        snap.write.mode("overwrite").parquet(vdir)
        with open(os.path.join(vdir, "_APPLIED.json"), "w") as f:
            json.dump({"batch_id": batch_id}, f)
        for v in self._versions():
            if v < version:
                shutil.rmtree(os.path.join(self.path, f"v={v}"),
                              ignore_errors=True)


def streaming_table_group_aggregate(
    changelog: DataFrame,
    key: str,
    order_by: str,
    group_exprs: list[Column],
    aggs: list[Column],
    sink: Callable[[DataFrame, int], None],
    value_cols: list[str] | None = None,
    checkpoint: str | None = None,
    tombstone_col: str | None = None,
) -> StreamingQuery:
    """Streaming retraction via foreachBatch: merge each microbatch
    into the durable latest-by-key snapshot store, re-aggregate the
    snapshot, hand the result to ``sink(df, batch_id)``.

    ``checkpoint`` is required: the snapshot store lives under
    ``<checkpoint>/snapshots``, so a restart from the checkpoint finds
    its state, and a replayed last batch is detected by its recorded
    batch id and not double-merged.  ``tombstone_col``: keys whose latest
    record is NULL there are deleted from the snapshot (compaction
    tombstone, LogCleaner.scala:43-92); note a record arriving *after*
    the tombstone with an older ``order_by`` resurrects the key — the
    same bounded-retention caveat as compacted-topic deletes.
    """
    from kafkadirect_spark.core import Table

    value_cols = list(value_cols or
                      [c for c in changelog.columns if c != key])
    # The stored snapshot keeps order_by so future batches can be
    # recency-merged against it.
    stored_cols = list(dict.fromkeys([order_by, *value_cols]))
    store = _SnapshotStore(_SnapshotStore.under(checkpoint))

    def per_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        head = store.latest()
        if head is not None and batch_id <= head[1]:
            # Post-crash replay of an already-folded batch: state is
            # current; just re-emit the aggregate (idempotent sink).
            snap = store.read(spark, head[0])
        else:
            log = batch.select(key, *stored_cols)
            if head is not None:
                log = store.read(spark, head[0]).unionByName(log)
            snap = Table.from_changelog(
                log, key=key, order_by=F.col(order_by),
                value_cols=stored_cols, tombstone_col=tombstone_col).df
            version = (head[0] + 1) if head is not None else 0
            store.commit(snap, version, batch_id)
            snap = store.read(spark, version)  # scan, not lineage
        sink(table_group_aggregate(snap, group_exprs, aggs), batch_id)

    return (changelog.writeStream.outputMode("append")
            .foreachBatch(per_batch)
            .option("checkpointLocation", checkpoint).start())
