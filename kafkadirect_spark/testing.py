"""PipeDriver — the TopologyTestDriver analogue.

Reference: streams/test-utils/.../TopologyTestDriver.java:383,494
(pipeInput → readOutput, synchronous, no broker): the harness every
per-operator golden test in the reference is written against.

Here: a topology is a function Stream → DataFrame (or Stream).  The
driver owns a temp directory consumed incrementally by the file-stream
source; ``pipe(rows)`` appends one microbatch, ``read_output()``
returns the rows the memory sink emitted since the last read.  Tests
drive event-time (and thus watermarks/suppression/timers) purely
through the records they pipe — same model as the reference's
synchronous driver.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Row, SparkSession

from kafkadirect_spark.core import Stream
from kafkadirect_spark.sources.stream import stream_from_dir


def explain_formatted(df: DataFrame) -> str:
    """Return ``df.explain("formatted")`` output as a string.

    The public explain() prints driver-side, so redirect_stdout
    captures it — unlike the private ``_jvm.PythonSQLUtils`` API,
    which breaks under Spark Connect.  Shared by the plan-contract
    tests, ``tools/dump_plans.py``, ``tools/bench_one.py --explain`` and
    ``bench.py``'s fingerprints.
    """
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class PipeDriver:
    """Synchronous golden-test harness for streaming topologies."""

    def __init__(
        self,
        spark: SparkSession,
        schema: str,
        topology: Callable[[Stream], DataFrame | Stream],
        key: str | None = None,
        ts: str | None = None,
        output_mode: str = "update",
    ):
        self.spark = spark
        self.schema = schema
        self._dir = tempfile.mkdtemp(prefix="kds-pipe-")
        self._batch = 0
        self._seen = 0
        self._name = f"pipe_{uuid.uuid4().hex[:8]}"
        # the glob source needs at least one file before the query can
        # start — seed with an empty batch (zero rows, schema only)
        (spark.createDataFrame([], schema).coalesce(1)
         .write.parquet(f"{self._dir}/in/b_seed"))
        src = stream_from_dir(
            spark, f"{self._dir}/in/*", schema, key=key, ts=ts)
        out = topology(src)
        df = out.df if isinstance(out, Stream) else out
        self._query = (
            df.writeStream.outputMode(output_mode).format("memory")
            .queryName(self._name)
            .option("checkpointLocation", f"{self._dir}/ckpt")
            .start()
        )

    def pipe(self, rows: Sequence) -> None:
        """pipeInput — TopologyTestDriver.java:383: one microbatch."""
        (self.spark.createDataFrame(rows, self.schema)
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{self._dir}/in/b{self._batch}"))
        self._batch += 1
        self._query.processAllAvailable()

    def read_output(self) -> list[Row]:
        """readOutput — rows emitted since the last call."""
        rows = self.spark.sql(f"SELECT * FROM {self._name}").collect()
        new = rows[self._seen:]
        self._seen = len(rows)
        return new

    def all_output(self) -> list[Row]:
        return self.spark.sql(f"SELECT * FROM {self._name}").collect()

    def close(self) -> None:
        self._query.stop()
        shutil.rmtree(self._dir, ignore_errors=True)

    def __enter__(self) -> "PipeDriver":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
