"""File-based streaming sources — the broker-free way to exercise the
streaming operator surface (and the FileStream connector analogue:
connect/file/.../FileStreamSourceTask.java).

A directory of parquet/json files is consumed incrementally by
``readStream`` — each new file is a microbatch of records, which is
exactly the TopologyTestDriver pipe-input model the reference's tests
use (streams/test-utils/.../TopologyTestDriver.java:383).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from kafkadirect_spark.core import Stream


def stream_from_dir(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    key: str | None = None,
    ts: str | None = None,
    max_files_per_trigger: int | None = 1,
) -> Stream:
    """Incremental scan of a directory as an unbounded Stream.
    ``max_files_per_trigger=1`` replays file-by-file (deterministic
    microbatch boundaries for golden tests)."""
    r = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return Stream(r.load(path), key=key, ts=ts)
