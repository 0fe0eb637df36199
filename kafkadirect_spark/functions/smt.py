"""Kafka Connect Single Message Transforms (SMTs) as DataFrame
transforms — SURVEY.md §2.7.

Reference: connect/transforms/src/main/java/org/apache/kafka/connect/
transforms/ — Cast.java:118, ExtractField.java, Flatten.java:71,
HoistField.java, InsertField.java, MaskField.java, RegexRouter.java,
ReplaceField.java, SetSchemaMetadata.java, TimestampConverter.java:275,
TimestampRouter.java, ValueToKey.java.

Each SMT is a per-record scalar transform; here each is a thin wrapper
over built-in column expressions (JVM-side, codegen'd).  They compose
with ``Stream.map_values`` / plain ``DataFrame.transform``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DataType, NumericType, StringType, StructType,
)


def cast_fields(df: DataFrame, spec: dict[str, str]) -> DataFrame:
    """Cast — Cast.java:118: cast named fields to target types
    (spec: {field: "int"/"double"/"string"/...})."""
    return df.withColumns({f: F.col(f).cast(t) for f, t in spec.items()})


def extract_field(df: DataFrame, field: str, name: str | None = None) -> DataFrame:
    """ExtractField — project one (possibly nested) field out."""
    return df.select(F.col(field).alias(name or field.split(".")[-1]))


def flatten(df: DataFrame, delimiter: str = ".") -> DataFrame:
    """Flatten — Flatten.java:71: recursively flatten struct columns,
    joining path segments with ``delimiter``."""
    cols: list[Column] = []

    def walk(prefix: str, schema: StructType, path: Column | None):
        for f in schema.fields:
            child = F.col(f.name) if path is None else path.getField(f.name)
            qual = f.name if not prefix else f"{prefix}{delimiter}{f.name}"
            if isinstance(f.dataType, StructType):
                walk(qual, f.dataType, child)
            else:
                cols.append(child.alias(qual))

    walk("", df.schema, None)
    return df.select(*cols)


def hoist_field(df: DataFrame, wrap_name: str) -> DataFrame:
    """HoistField — wrap the whole value into a single struct field."""
    return df.select(F.struct(*df.columns).alias(wrap_name))


def insert_field(df: DataFrame, name: str, value: Column) -> DataFrame:
    """InsertField — add a static or metadata-derived field
    (topic/partition/offset/timestamp in the reference; any Column
    expression here)."""
    return df.withColumn(name, value)


def mask_field(df: DataFrame, fields: list[str]) -> DataFrame:
    """MaskField — replace fields with their type's null-equivalent
    (0 for numerics, "" for strings, false for booleans — the
    reference's PRIMITIVE_VALUE_MAPPING)."""
    def zero(dt: DataType) -> Column:
        if isinstance(dt, NumericType):
            return F.lit(0).cast(dt)
        if isinstance(dt, StringType):
            return F.lit("")
        if isinstance(dt, BooleanType):
            return F.lit(False)
        return F.lit(None).cast(dt)

    types = {f.name: f.dataType for f in df.schema.fields}
    return df.withColumns({f: zero(types[f]) for f in fields})


def regex_router(topic: Column | str, pattern: str, replacement: str) -> Column:
    """RegexRouter — rewrite the route (topic/sink-path) by regex."""
    c = F.col(topic) if isinstance(topic, str) else topic
    return F.regexp_replace(c, pattern, replacement)


def replace_field(df: DataFrame, renames: dict[str, str] | None = None,
                  drops: list[str] | None = None) -> DataFrame:
    """ReplaceField — rename and/or drop fields."""
    out = df
    for old, new in (renames or {}).items():
        out = out.withColumnRenamed(old, new)
    if drops:
        out = out.drop(*drops)
    return out


def set_schema_metadata(df: DataFrame, name: str, version: int) -> DataFrame:
    """SetSchemaMetadata — schema name/version are a Connect-wire
    concept; recorded as column metadata on the first column so the
    information survives the plan (no value change)."""
    first = df.columns[0]
    return df.withMetadata(first, {"schema_name": name, "schema_version": version})


def timestamp_converter(c: Column | str, target: str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """TimestampConverter — TimestampConverter.java:275: epoch-millis ↔
    string ↔ timestamp/date.  ``target`` ∈ {timestamp, string, unix, date}."""
    col = F.col(c) if isinstance(c, str) else c
    if target == "timestamp":
        return F.timestamp_millis(col.cast("long"))
    if target == "unix":
        return (col.cast("timestamp").cast("double") * 1000).cast("long")
    if target == "string":
        return F.date_format(col.cast("timestamp"), fmt)
    if target == "date":
        return col.cast("timestamp").cast("date")
    raise ValueError(f"unknown target {target}")


def timestamp_router(ts: Column | str, topic_format: str = "route-{}",
                     date_format: str = "yyyyMMdd") -> Column:
    """TimestampRouter — route name derived from the record timestamp."""
    c = F.col(ts) if isinstance(ts, str) else ts
    prefix, suffix = topic_format.split("{}")
    return F.concat(F.lit(prefix), F.date_format(c, date_format), F.lit(suffix))


def value_to_key(df: DataFrame, fields: list[str], key_name: str = "key") -> DataFrame:
    """ValueToKey — build the record key from value fields."""
    return df.withColumn(key_name, F.struct(*[F.col(f) for f in fields]))


def route_errors(df: DataFrame, error_cond: Column,
                 context: dict[str, Column] | None = None
                 ) -> tuple[DataFrame, DataFrame]:
    """Connect ``errors.tolerance=all`` + dead-letter-queue routing
    (connect/runtime DeadLetterQueueReporter semantics — public
    surface of every Connect deployment, adjacent to the §2.7 SMTs):
    split a frame into (ok, dlq) on a caller-supplied error
    condition — e.g. a failed ``try_cast`` yielding null (under
    Spark's ANSI mode the ``try_*`` function family is the idiom
    that converts per-record failures into observable nulls instead
    of job aborts), a regex mismatch, a schema check — instead of
    failing the pipeline.

    Both outputs filter one tagged projection, which is persisted
    (MEMORY_AND_DISK) so consuming ok THEN dlq evaluates the source
    and ``error_cond`` once — without the persist each side would
    re-scan and re-evaluate, and a non-deterministic condition could
    even route a record to both or neither side (lazy frames alone
    cache nothing).  Call ``.unpersist()`` on either returned frame's
    lineage when done, or let Spark's LRU evict it.  The DLQ side
    carries the full original
    record plus an ``error_context`` struct (caller-supplied
    diagnostic columns, e.g. the raw value and a reason literal),
    mirroring the DLQ headers Connect attaches.  Null error
    conditions count as errors (a predicate that cannot evaluate is
    itself an error, matching Connect's tolerance model).
    """
    if "__is_err" in df.columns or "error_context" in df.columns:
        raise ValueError(
            "input already has a reserved column (__is_err / "
            "error_context) — rename it first")
    tagged = df.withColumn(
        "__is_err", F.coalesce(error_cond.cast("boolean"), F.lit(True)))
    tagged = tagged.persist()
    ok = tagged.filter(~F.col("__is_err")).drop("__is_err")
    ctx = context or {}
    dlq = (tagged.filter(F.col("__is_err")).drop("__is_err")
           .withColumn("error_context", F.struct(
               *[c.alias(n) for n, c in ctx.items()]) if ctx
               else F.struct(F.lit("unspecified").alias("reason"))))
    return ok, dlq
