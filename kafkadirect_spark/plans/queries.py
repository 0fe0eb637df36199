"""Named queries exercising every operator family from SURVEY.md §2,
each paired with an ANSI-SQL oracle that DuckDB runs on the same
parquet tables.

Conventions for oracle hash-matching (the driver sorts columns by name
and hashes values):
- every computed column is aliased identically in Spark and SQL;
- money/double aggregations go through DECIMAL(18,2) casts so both
  engines sum exactly (no float-accumulation-order divergence), then
  cast back to DOUBLE for a stable output type;
- averages/ratios are computed as one IEEE double division of two
  exactly-agreed operands (division is correctly rounded ⇒ identical
  bits in both engines);
- windows are derived with wall-clock date_trunc / epoch arithmetic so
  results don't depend on the session time zone.

Each query function takes (spark, sf_dir) and returns a DataFrame —
the contract of ``__spark_entry__.queries()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkadirect_spark.core import GlobalTable, JoinWindows, Stream, Table, Windows
from kafkadirect_spark.sources.batch import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn
    return deco


def _dec(c, p=18, s=2):
    return F.col(c).cast(f"decimal({p},{s})")


# ---------------------------------------------------------------------------
# Flagship: pricing-summary aggregation (streamprocess + aggregate shape,
# TPC-H Q1).  Exercises filter pushdown, projection pruning, grouped
# aggregation with map-side partials — the ``streamcount``/``aggregate``
# surface of SimpleBenchmark.java:182-199 at SQL-analytics fidelity.
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT
      l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (100 - CAST(l_discount*100 AS BIGINT))) AS DOUBLE) / 100.0 AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (100 - CAST(l_discount*100 AS BIGINT)) * (100 + CAST(l_tax*100 AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      CAST(SUM(CAST(l_discount*100 AS BIGINT)) AS DOUBLE) / (COUNT(*) * 100.0) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = Stream(load_table(spark, sf_dir, "lineitem"), ts="l_shipdate")
    # discount/tax are 2-dp doubles: scale to exact integer percents.
    disc_pct = (F.col("l_discount") * 100).cast("bigint")
    tax_pct = (F.col("l_tax") * 100).cast("bigint")
    price = _dec("l_extendedprice")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .group_by("l_returnflag", "l_linestatus")
        .aggregate(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            (F.sum(price * (F.lit(100) - disc_pct)).cast("double") / F.lit(100.0)).alias("sum_disc_price"),
            (F.sum(price * (F.lit(100) - disc_pct) * (F.lit(100) + tax_pct)).cast("double") / F.lit(10000.0)).alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(disc_pct).cast("double") / (F.count(F.lit(1)) * F.lit(100.0))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Stateless core (§2.2): filter / map / project  (streamprocess suite)
# ---------------------------------------------------------------------------


@query(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (100 - CAST(l_discount*100 AS BIGINT)) AS DOUBLE) / 100.0 AS net_price,
           upper(l_returnflag) AS flag
    FROM lineitem
    WHERE l_quantity > 25 AND l_discount >= 0.05
    """,
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter + mapValues chain — KStreamFilter.java / KStreamMapValues.java."""
    s = Stream(load_table(spark, sf_dir, "lineitem"))
    disc_pct = (F.col("l_discount") * 100).cast("bigint")
    return (
        s.filter((F.col("l_quantity") > 25) & (F.col("l_discount") >= 0.05))
        .map_values(
            net_price=(_dec("l_extendedprice") * (F.lit(100) - disc_pct)).cast("double") / F.lit(100.0),
            flag=F.upper("l_returnflag"),
        )
        .select("l_orderkey", "l_linenumber", "net_price", "flag")
        .df
    )


@query(
    "flat_map_word_count",
    oracle="""
    SELECT word, COUNT(*) AS count
    FROM (
      SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
)
def flat_map_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount — examples/wordcount/WordCountDemo.java:65-70:
    flatMapValues(split) → groupBy(word) → count."""
    docs = Stream(load_table(spark, sf_dir, "documents"))
    return (
        docs.map_values(value=F.lower("text"))
        .flat_map_values(F.split(F.col("value"), "[^a-z0-9]+"), name="word")
        .filter(F.col("word") != "")
        .group_by("word")
        .count(name="count")
    )


@query(
    "branch_counts",
    oracle="""
    SELECT CASE
             WHEN event_type = 'purchase' THEN 0
             WHEN value > 150 THEN 1
             ELSE -1
           END AS branch,
           COUNT(*) AS count
    FROM events
    GROUP BY 1
    """,
)
def branch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """branch (first-match-wins) — KStreamBranch.java:40-52, realized as a
    single-pass tag so the 100 TB case scans once, not once per branch."""
    s = Stream(load_table(spark, sf_dir, "events"), ts="ts")
    tagged = s.branch_tag(F.col("event_type") == "purchase", F.col("value") > 150)
    return tagged.group_by("branch").count(name="count")


@query(
    "merge_streams",
    oracle="""
    SELECT event_id, event_type, user_id FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT event_id, event_type, user_id FROM events WHERE event_type = 'error'
    """,
)
def merge_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge — KStream.java:417 (interleaved union, no dedup)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    clicks = Stream(ev).filter(F.col("event_type") == "click")
    errors = Stream(ev).filter(F.col("event_type") == "error")
    return clicks.merge(errors).df


# ---------------------------------------------------------------------------
# Unwindowed aggregation (§2.4): count / reduce / aggregate  (streamcount)
# ---------------------------------------------------------------------------


# Unregistered: perfbench/batch.py and bench.py run it as the
# ``streamcount`` suite.
def stream_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupByKey().count() — KGroupedStream.java:71 (SimpleBenchmark
    ``streamcount``)."""
    return Stream(load_table(spark, sf_dir, "events"), key="user_id", ts="ts").group_by_key().count(name="count")


@query(
    "stream_reduce",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MAX(value) AS max_value, MIN(value) AS min_value
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    """,
)
def stream_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reduce (running fold per key) — KGroupedStream.java:151 /
    KStreamReduce.java. min/max of doubles are order-insensitive; sum
    goes through decimal."""
    s = Stream(load_table(spark, sf_dir, "events"), key="user_id", ts="ts")
    return s.group_by_key().aggregate(
        F.sum(_dec("value")).cast("double").alias("total_value"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
    )


@query(
    "stream_aggregate",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
           COUNT(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY event_type
    """,
)
def stream_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate (init+fold UDAF shape) — KGroupedStream.java:256; the
    avg-by-sum/count decomposition is exactly the Initializer+Aggregator
    pattern, expressed as Catalyst aggregates."""
    s = Stream(load_table(spark, sf_dir, "events"), ts="ts")
    return s.group_by("event_type").aggregate(
        F.count(F.lit(1)).alias("n"),
        (F.sum(_dec("value")).cast("double") / F.count(F.lit(1))).alias("avg_value"),
        F.countDistinct("user_id").alias("distinct_users"),
    )


# ---------------------------------------------------------------------------
# Windowed aggregation (§2.5): tumbling / hopping / session
# ---------------------------------------------------------------------------


@query(
    "windowed_count_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS count
    FROM events GROUP BY 1, 2
    """,
)
def windowed_count_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window count — TimeWindows.of(1h) ≙ F.window(ts, '1 hour')
    (TimeWindows.java:110; KStreamWindowAggregate.java:96-153).  Goes
    through the engine's Windows.tumbling path; epoch-aligned 1h windows
    coincide with date_trunc('hour') in the UTC session."""
    s = Stream(load_table(spark, sf_dir, "events"), ts="ts")
    out = (
        s.group_by("event_type")
        .windowed_by(Windows.tumbling("1 hour"))
        .count(name="count")
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("event_type"),
        F.col("count"),
    )


@query(
    "session_aggregate",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id IS NOT NULL
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
           COUNT(*) AS n
    FROM sessions GROUP BY user_id, session_id
    """,
)
def session_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session aggregate (beyond count) — SessionWindowedKStream
    .aggregate with the session Merger (SessionWindowedKStreamImpl.java;
    merge loop KStreamSessionWindowAggregate.java:94-141)."""
    s = Stream(load_table(spark, sf_dir, "events"), key="user_id", ts="ts")
    out = (
        s.group_by_key()
        .windowed_by(Windows.session("30 minutes"))
        .aggregate(
            F.sum(_dec("value")).cast("double").alias("session_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return out.select(
        "user_id",
        F.col("window.start").alias("session_start"),
        "session_value", "n",
    )


@query(
    "unlimited_window_count",
    oracle="""
    SELECT TIMESTAMP '2024-01-03 00:00:00' AS window_start, event_type,
           COUNT(*) AS count
    FROM events WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY event_type
    """,
)
def unlimited_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unlimited (landmark) window — UnlimitedWindows.of().startOn(t)
    (UnlimitedWindows.java:60,94): one [start, ∞) window per key."""
    s = Stream(load_table(spark, sf_dir, "events"), ts="ts")
    out = (
        s.group_by("event_type")
        .windowed_by(Windows.unlimited("2024-01-03 00:00:00"))
        .count(name="count")
    )
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "count")


@query(
    "ktable_filter",
    oracle="""
    WITH latest AS (
      SELECT o_custkey,
             max_by(o_totalprice, o_orderkey) AS o_totalprice,
             max_by(o_orderstatus, o_orderkey) AS o_orderstatus
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, o_totalprice, o_orderstatus
    FROM latest WHERE o_totalprice > 150000 AND o_orderstatus = 'O'
    """,
)
def ktable_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable.filter — KTable.java:91 → KTableFilter.java: predicate on
    the table view; non-matching keys are tombstoned (absent)."""
    orders = load_table(spark, sf_dir, "orders")
    latest = Table.from_changelog(
        orders, key="o_custkey", order_by="o_orderkey",
        value_cols=["o_totalprice", "o_orderstatus"])
    return latest.filter(
        (F.col("o_totalprice") > 150000) & (F.col("o_orderstatus") == "O")).df


@query(
    "select_key_regroup",
    oracle="""
    SELECT CAST(user_id % 10 AS BIGINT) AS shard, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS users
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
    """,
)
def select_key_regroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """selectKey → groupByKey — KStream.java:111 → 895: re-keying marks
    a repartition in the reference; here Catalyst inserts the single
    shuffle only because the aggregate follows."""
    s = Stream(load_table(spark, sf_dir, "events"), key="user_id", ts="ts")
    return (
        s.select_key((F.col("user_id") % 10).cast("long"), name="shard")
        .group_by_key()
        .aggregate(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
        )
    )


@query(
    "windowed_avg_hopping",
    oracle="""
    SELECT ws AS window_start, event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM (
      SELECT e.event_type, e.value,
             unnest(generate_series(
               CAST(to_timestamp(floor(epoch(e.ts)/1800)*1800) AS TIMESTAMP) - INTERVAL 30 MINUTE,
               CAST(to_timestamp(floor(epoch(e.ts)/1800)*1800) AS TIMESTAMP),
               INTERVAL 30 MINUTE)) AS ws
      FROM events e
    ) x
    GROUP BY 1, 2
    """,
)
def windowed_avg_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregate beyond count — 1h windows sliding by
    30m (2 windows per record), averaging through the decimal-exact
    sum/count decomposition."""
    s = Stream(load_table(spark, sf_dir, "events"), ts="ts")
    out = (
        s.group_by("event_type")
        .windowed_by(Windows.hopping("1 hour", "30 minutes"))
        .aggregate(
            (F.sum(_dec("value")).cast("double") / F.count(F.lit(1))).alias("avg_value"),
        )
    )
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "avg_value")


@query(
    "table_map_values",
    oracle="""
    WITH latest AS (
      SELECT o_custkey, max_by(o_totalprice, o_orderkey) AS price
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(CAST(price AS DECIMAL(18,2)) * 110 AS DOUBLE) / 100.0 AS with_tax
    FROM latest
    """,
)
def table_map_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable.mapValues — KTable.java:225 → KTableMapValues.java: value
    transform over the latest-by-key view."""
    orders = load_table(spark, sf_dir, "orders")
    latest = Table.from_changelog(
        orders.select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("price")),
        key="o_custkey", order_by="o_orderkey", value_cols=["price"])
    out = latest.map_values(
        with_tax=(_dec("price") * 110).cast("double") / F.lit(100.0))
    return out.df.select("o_custkey", "with_tax")


# ---------------------------------------------------------------------------
# Joins (§2.3) — all six families + the Yahoo flagship pipeline.
# events.user_id references customer.c_custkey (the stream→dim key).
# ---------------------------------------------------------------------------


@query(
    "join_stream_table",
    oracle="""
    SELECT e.event_id, e.user_id, e.value, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def join_stream_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream⋈KTable lookup join — KStream.java:1604 →
    KStreamKTableJoinProcessor.java (SimpleBenchmark ``streamtablejoin``).
    The dim side is a Table; Catalyst broadcasts it under the 64 MB
    threshold — at 100 TB the stream side never shuffles."""
    ev = Stream(load_table(spark, sf_dir, "events"), key="user_id", ts="ts")
    cust = Table(load_table(spark, sf_dir, "customer"), key="c_custkey")
    out = (
        ev.filter(F.col("event_type") == "purchase")
        .join_table(cust, on=F.col("user_id") == F.col("c_custkey"))
    )
    return out.select("event_id", "user_id", "value", "c_name", "c_mktsegment").df


@query(
    "join_interval_inner",
    oracle="""
    SELECT l.event_id AS click_id, r.event_id AS purchase_id, l.user_id,
           l.ts AS click_ts, r.ts AS purchase_ts
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts BETWEEN l.ts - INTERVAL 10 MINUTE AND l.ts + INTERVAL 10 MINUTE
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    """,
)
def join_interval_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream⋈KStream interval join — KStream.java:1118 →
    KStreamKStreamJoin.java:88-100 (SimpleBenchmark ``streamstreamjoin``):
    equi-key AND |ts_l − ts_r| ≤ 10 min.  Self-join on a shared scan;
    AQE skew-join splits hot user_ids at scale."""
    ev = load_table(spark, sf_dir, "events")
    clicks = Stream(
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")),
        key="user_id", ts="click_ts",
    )
    purchases = Stream(
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("r_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts")),
        key="r_user_id", ts="purchase_ts",
    )
    out = clicks.join_interval(
        purchases,
        on=F.col("user_id") == F.col("r_user_id"),
        windows=JoinWindows.of("10 minutes"),
    )
    return out.df.select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")


@query(
    "join_table_table",
    oracle="""
    WITH latest AS (
      SELECT o_custkey,
             max_by(o_orderkey,  o_orderkey) AS o_orderkey,
             max_by(o_totalprice, o_orderkey) AS o_totalprice,
             max_by(o_orderstatus, o_orderkey) AS o_orderstatus
      FROM orders GROUP BY o_custkey
    )
    SELECT l.o_custkey, l.o_orderkey, l.o_totalprice, l.o_orderstatus,
           c.c_name, c.c_mktsegment
    FROM latest l JOIN customer c ON l.o_custkey = c.c_custkey
    """,
)
def join_table_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable⋈KTable inner — KTable.java:725 → KTableKTableInnerJoin.java
    (SimpleBenchmark ``tabletablejoin``).  Left side materialized with
    Table.from_changelog (last-wins by the monotone o_orderkey — the
    compaction shape, LogCleaner.scala:43-92)."""
    orders = load_table(spark, sf_dir, "orders")
    latest = Table.from_changelog(
        orders, key="o_custkey", order_by="o_orderkey",
        value_cols=["o_orderkey", "o_totalprice", "o_orderstatus"],
    )
    cust = Table(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment"),
        key="c_custkey",
    )
    joined = Table(latest.df.withColumnRenamed("o_custkey", "c_custkey"), "c_custkey").join(cust)
    return joined.df.select(
        F.col("c_custkey").alias("o_custkey"),
        "o_orderkey", "o_totalprice", "o_orderstatus", "c_name", "c_mktsegment",
    )


@query(
    "join_table_table_outer",
    oracle="""
    WITH latest AS (
      SELECT o_custkey, max_by(o_totalprice, o_orderkey) AS last_price
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
    ), rich AS (
      SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 7500
    )
    SELECT COALESCE(l.o_custkey, r.c_custkey) AS custkey, l.last_price, r.c_name
    FROM latest l FULL OUTER JOIN rich r ON l.o_custkey = r.c_custkey
    """,
)
def join_table_table_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable⋈KTable outer — KTable.java:1055 → KTableKTableOuterJoin.java:
    both sides null-padded; result key is the coalesced primary key
    (KTableKTableJoinMerger.java)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    latest = Table.from_changelog(
        orders.select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("last_price")),
        key="o_custkey", order_by="o_orderkey", value_cols=["last_price"],
    )
    rich = Table(
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 7500).select("c_custkey", "c_name"),
        key="c_custkey",
    )
    joined = latest.df.join(rich.df, latest.df["o_custkey"] == rich.df["c_custkey"], "full_outer")
    return joined.select(
        F.coalesce(F.col("o_custkey"), F.col("c_custkey")).alias("custkey"),
        "last_price", "c_name",
    )


@query(
    "join_global_enrich",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_global_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream⋈GlobalKTable — KStream.java:1873 →
    KStreamGlobalKTableJoin.java: arbitrary key-mapper lookup against a
    fully-replicated dim ⇒ explicit broadcast, zero stream-side shuffle."""
    cust = Stream(load_table(spark, sf_dir, "customer"), key="c_custkey")
    nation = GlobalTable(
        load_table(spark, sf_dir, "nation"), key="n_nationkey")
    region = GlobalTable(
        load_table(spark, sf_dir, "region"), key="r_regionkey")
    out = (
        cust.join_global(nation, on=F.col("c_nationkey") == F.col("n_nationkey"))
        .join_global(region, on=F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return out.df.select(
        "c_custkey", "c_name",
        F.col("n_name").alias("nation"), F.col("r_name").alias("region"),
    )


@query(
    "promo_revenue_share",
    oracle="""
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (100 - CAST(l.l_discount*100 AS BIGINT))) AS DOUBLE) / 100.0
             AS revenue,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (100 - CAST(l.l_discount*100 AS BIGINT))
                    ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (100 - CAST(l.l_discount*100 AS BIGINT))) AS DOUBLE)
             AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape on the DSL: fact stream ⋈ part dimension
    (broadcast lookup join), promo-revenue share per brand.  The share
    is one IEEE division of two exactly-agreed decimal sums — the
    oracle convention for cross-engine float stability."""
    line = Stream(load_table(spark, sf_dir, "lineitem"))
    part = Table(load_table(spark, sf_dir, "part"), key="p_partkey")
    joined = line.join_table(part, on=F.col("l_partkey") == F.col("p_partkey"))
    disc_cents = _dec("l_extendedprice") * (
        F.lit(100) - (F.col("l_discount") * 100).cast("bigint"))
    promo_cents = F.when(F.col("p_type") == "PROMO", disc_cents).otherwise(
        F.lit(0).cast("decimal(18,2)"))
    return joined.group_by("p_brand").aggregate(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(disc_cents).cast("double") / F.lit(100.0)).alias("revenue"),
        (F.sum(promo_cents).cast("double") / F.sum(disc_cents).cast("double"))
        .alias("promo_share"),
    )


@query(
    "supplier_nation_volume",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def supplier_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way dimension chain on the DSL: fact ⋈ supplier (lookup
    join) ⋈ nation (GlobalKTable broadcast), shipped volume per
    nation — the deep-join shape where Catalyst's join reordering and
    broadcast selection earn their keep."""
    line = Stream(load_table(spark, sf_dir, "lineitem"))
    supp = Table(load_table(spark, sf_dir, "supplier"), key="s_suppkey")
    nation = GlobalTable(load_table(spark, sf_dir, "nation"), key="n_nationkey")
    out = (line.join_table(supp, on=F.col("l_suppkey") == F.col("s_suppkey"))
               .join_global(nation, on=F.col("s_nationkey") == F.col("n_nationkey")))
    return (out.group_by(F.col("n_name").alias("nation"))
            .aggregate(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(_dec("l_quantity")).cast("double").alias("total_qty")))


@query(
    "skew_salted_join",
    oracle="""
    SELECT e.event_id, c.c_name
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted hot-key join under the correctness gate: the salt column
    only routes rows to tasks, so the result must equal the plain
    equi-join the oracle computes (operators/skew.py:salted_join)."""
    from kafkadirect_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return salted_join(ev, cust, key="user_id", small_key="c_custkey",
                       salt=8).select("event_id", "c_name")


@query(
    "skew_salted_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY event_type
    """,
)
def skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation for a non-algebraic aggregate
    (distinct users per hot group): per-(key, salt) partial sets, then
    a per-key merge — must equal the plain COUNT(DISTINCT) the oracle
    runs (operators/skew.py:salted_agg)."""
    from kafkadirect_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev, "event_type",
        agg_exprs=[F.collect_set("user_id").alias("us")],
        merge_exprs=[F.size(F.array_distinct(F.flatten(F.collect_list("us"))))
                     .cast("long").alias("distinct_users")],
    )


@query(
    "yahoo_pipeline",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS window_start, c.c_mktsegment AS campaign,
           COUNT(*) AS views
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'view'
    GROUP BY 1, 2
    """,
)
def yahoo_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Yahoo streaming-benchmark shape — YahooBenchmark.java:266-295:
    filter(event_type) → project → stream⋈table dim join → tumbling
    windowed count per campaign.  Our flagship: the dim (customer ≙
    campaigns) broadcasts; the only shuffle is the final windowed agg,
    with map-side partials."""
    ev = Stream(load_table(spark, sf_dir, "events"), key="user_id", ts="ts")
    campaigns = Table(
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment"),
        key="c_custkey",
    )
    out = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", "ts")
        .join_table(campaigns, on=F.col("user_id") == F.col("c_custkey"))
        .map_values(campaign=F.col("c_mktsegment"))
        .group_by("campaign")
        .windowed_by(Windows.tumbling("1 hour"))
        .count(name="views")
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("campaign"),
        F.col("views"),
    )


# ---------------------------------------------------------------------------
# KTable groupBy re-aggregation (§2.4), SMT chain (§2.7), time travel (§2.1)
# ---------------------------------------------------------------------------


@query(
    "table_group_aggregate",
    oracle="""
    WITH latest AS (
      SELECT o_custkey,
             max_by(o_orderstatus, o_orderkey) AS o_orderstatus,
             max_by(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey
    )
    SELECT o_orderstatus, COUNT(*) AS n_customers,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM latest GROUP BY o_orderstatus
    """,
)
def table_group_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable.groupBy + aggregate with retraction — KTable.java:584 →
    KTableAggregate.java:72-98: each customer's *latest* order re-keys
    to its status group; superseded orders contribute nothing (the
    adder/subtractor semantics, collapsed to snapshot re-aggregation —
    see streaming/retraction.py for the incremental path)."""
    orders = load_table(spark, sf_dir, "orders")
    latest = Table.from_changelog(
        orders, key="o_custkey", order_by="o_orderkey",
        value_cols=["o_orderstatus", "o_totalprice"])
    return latest.group_by("o_orderstatus").aggregate(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
    )


@query(
    "smt_chain",
    oracle="""
    SELECT event_id,
           -- trunc: Spark/Java (int) casts truncate; DuckDB's would round
           CAST(trunc(value) AS INTEGER) AS value_int,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           regexp_replace(event_type, '^(.*)$', 'route-\\1') AS route,
           strftime(ts, '%Y-%m-%d') AS day,
           CAST(0 AS BIGINT) AS user_id_masked
    FROM events
    """,
)
def smt_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connect SMT chain — Cast → ExtractField (JSON) → RegexRouter →
    TimestampConverter → MaskField (connect/transforms/.../Cast.java:118,
    ExtractField.java, RegexRouter.java, TimestampConverter.java:275,
    MaskField.java), applied as one projection pass."""
    from kafkadirect_spark.functions import smt

    ev = load_table(spark, sf_dir, "events")
    out = smt.cast_fields(
        ev.withColumn("value_int", F.col("value").cast("int"))
          .withColumn("k", F.get_json_object("props", "$.k").cast("int"))
          .withColumn("route", smt.regex_router("event_type", "^(.*)$", "route-$1"))
          .withColumn("day", smt.timestamp_converter("ts", "string", "yyyy-MM-dd")),
        {},
    )
    out = smt.mask_field(out.withColumn("user_id_masked", F.col("user_id")),
                         ["user_id_masked"])
    return out.select("event_id", "value_int", "k", "route", "day", "user_id_masked")


@query(
    "scan_from_timestamp",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY event_type
    """,
)
def scan_from_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel scan — Log.fetchOffsetByTimestamp (Log.scala:1705) /
    ListOffsets: 'start at the first record with ts ≥ t'.  The bound is
    pushed onto the raw nanos long so the parquet reader prunes row
    groups via min/max stats (the columnar time index) — see
    sources/batch.py:scan_table_from."""
    from kafkadirect_spark.sources.batch import scan_table_from

    travelled = scan_table_from(spark, sf_dir, "events", "ts",
                                "2024-01-03 00:00:00")
    return (Stream(travelled, ts="ts").group_by("event_type")
            .count(name="n"))


@query(
    "ts_policy_previous",
    oracle="""
    WITH ev AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 97 = 53 THEN NULL ELSE ts END AS ts
      FROM events),
    filled AS (
      SELECT event_id, event_type,
             last_value(ts IGNORE NULLS) OVER (
               PARTITION BY event_id % 32
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ts
      FROM ev)
    SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS n
    FROM filled GROUP BY hr
    """,
)
def ts_policy_previous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimestampExtractor policy 'previous' (UsePartitionTimeOnInvalid
    Timestamp.java): an invalid event time is replaced by the highest
    prior valid one in record order — stream time carries forward, so
    the record still lands in a (near-)correct window.  The fill is
    per-partition (event_id % 32 stands in for Kafka's
    murmur2(key) % numPartitions) — the reference's stream time is
    per-partition state, and an unpartitioned fill would be a global
    single-reducer sort at 100 TB.  The hourly rollup over the
    repaired column is the oracle surface."""
    from kafkadirect_spark.functions.timestamps import with_timestamp_policy

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.when(F.col("event_id") % 97 == 53, F.lit(None))
        .otherwise(F.col("ts")))
    fixed = with_timestamp_policy(ev, "ts", on_invalid="previous",
                                  order_by="event_id",
                                  partition_by=F.pmod(F.col("event_id"), F.lit(32)))
    return (fixed.groupBy(F.date_trunc("hour", "ts").alias("hr"))
            .agg(F.count(F.lit(1)).alias("n")))


@query(
    "join_interval_outer",
    oracle="""
    SELECT l.event_id AS click_id, r.event_id AS purchase_id,
           COALESCE(l.user_id, r.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND r.ts BETWEEN l.ts - INTERVAL 1 MINUTE AND l.ts + INTERVAL 1 MINUTE
    """,
)
def join_interval_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer interval join — KStream.java:1429 (outerJoin) →
    KStreamKStreamJoin.java emitLeftJoin path on BOTH sides: unmatched
    records of either stream are null-padded.  The result key is the
    coalesced join key (both sides keyed identically)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = Stream(
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts")),
        key="user_id", ts="click_ts",
    )
    purchases = Stream(
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("r_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts")),
        key="r_user_id", ts="purchase_ts",
    )
    out = clicks.join_interval(
        purchases,
        on=F.col("user_id") == F.col("r_user_id"),
        windows=JoinWindows.of("1 minute"),
        how="outer",
    )
    return out.df.select(
        "click_id", "purchase_id",
        F.coalesce(F.col("user_id"), F.col("r_user_id")).alias("user_id"),
    )


@query(
    "map_rekey_count",
    oracle="""
    SELECT user_id % 10 AS shard,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
    """,
)
def map_rekey_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream.map re-key + re-value — KStream.java:149 →
    KStreamMap.java: each record gets a new key (shard) and a reshaped
    value; the map marks a repartition, so the downstream count
    shuffles on the NEW key (KStreamImpl repartitionRequired)."""
    s = Stream(load_table(spark, sf_dir, "events"), key="user_id", ts="ts")
    mapped = s.map(F.col("user_id") % 10, key_name="shard",
                   amount=_dec("value"))
    return (
        mapped.group_by_key()
        .aggregate(F.count(F.lit(1)).alias("n"),
                   F.sum("amount").cast("double").alias("total"))
    )


@query(
    "flat_map_rekey_ledger",
    oracle="""
    WITH fanout AS (
      SELECT 'u:' || user_id AS key, value FROM events
      UNION ALL
      SELECT 't:' || event_type AS key, value FROM events
    )
    SELECT key, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM fanout GROUP BY key
    """,
)
def flat_map_rekey_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream.flatMap with re-key — KStream.java:266 →
    KStreamFlatMap.java: each event fans out to one per-user and one
    per-type ledger record under brand-new keys; the downstream
    aggregation shuffles on the emitted key."""
    s = Stream(load_table(spark, sf_dir, "events"), key="user_id", ts="ts")
    fanned = s.flat_map(
        F.array(
            F.struct(F.concat(F.lit("u:"), F.col("user_id")).alias("key"),
                     _dec("value").alias("amount")),
            F.struct(F.concat(F.lit("t:"), F.col("event_type")).alias("key"),
                     _dec("value").alias("amount")),
        ),
        key="key",
    )
    return (
        fanned.group_by_key()
        .aggregate(F.count(F.lit(1)).alias("n"),
                   F.sum("amount").cast("double").alias("total"))
    )


@query(
    "table_to_stream_count",
    oracle="""
    WITH latest AS (
      SELECT user_id, max_by(event_type, event_id) AS event_type
      FROM events GROUP BY user_id
    )
    SELECT event_type, COUNT(*) AS n_users FROM latest GROUP BY event_type
    """,
)
def table_to_stream_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable.toStream + downstream aggregation — KTable.java:363:
    the events changelog materializes to latest-state-per-user (offset
    order = event_id, the Kafka log order), converts back to a stream,
    and re-aggregates by a value field."""
    ev = load_table(spark, sf_dir, "events")
    latest = Table.from_changelog(
        ev, key="user_id", order_by="event_id", value_cols=["event_type"])
    return (
        latest.to_stream()
        .group_by("event_type")
        .count(name="n_users")
    )


@query(
    "session_reduce",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id IS NOT NULL
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(value) AS peak
    FROM sessions GROUP BY user_id, session_id
    """,
)
def session_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SessionWindowedKStream.reduce — SessionWindowedKStreamImpl.java:
    per-(user, session) fold (max is order-insensitive ⇒ exact in both
    engines); sessions merge across the 30-minute gap exactly as in
    session_count."""
    s = Stream(load_table(spark, sf_dir, "events"), key="user_id", ts="ts")
    out = (
        s.group_by_key()
        .windowed_by(Windows.session("30 minutes"))
        .reduce(F.max("value"), name="peak")
    )
    return out.select(
        F.col("user_id"),
        F.col("window.start").alias("session_start"),
        F.col("peak"),
    )


@query(
    "table_tombstones",
    oracle="""
    WITH mx AS (SELECT user_id, MAX(event_id) AS last_id
                FROM events GROUP BY user_id),
    latest AS (
      SELECT e.user_id,
             CASE WHEN e.event_type = 'purchase' THEN NULL ELSE e.value END
               AS last_value,
             e.event_type AS last_type
      FROM events e JOIN mx
        ON e.user_id = mx.user_id AND e.event_id = mx.last_id
    )
    SELECT user_id, last_value, last_type FROM latest
    WHERE last_value IS NOT NULL
    """,
)
def table_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog tombstones — LogCleaner.scala:43-92 / KTableSource:
    a key whose LATEST record is a delete marker (NULL value) drops
    out of the materialized view entirely.  Here 'purchase' events
    act as the tombstone marker, so users whose last event is a
    purchase vanish from the table."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "last_value",
        F.when(F.col("event_type") == "purchase", F.lit(None).cast("double"))
        .otherwise(F.col("value")))
    t = Table.from_changelog(
        ev, key="user_id", order_by="event_id",
        value_cols=["last_value", "event_type"],
        tombstone_col="last_value",
    )
    return t.df.select("user_id", "last_value",
                       F.col("event_type").alias("last_type"))


@query(
    "asof_enrich",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
    purchases AS (
      SELECT user_id, ts, MAX(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
      GROUP BY user_id, ts)
    SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.click_ts >= p.ts
    """,
)
def asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (temporal) enrichment — each click picks the user's
    latest purchase at or before its timestamp.  Generalizes the
    reference's KStream⋈KTable lookup (KStream.java:1604 — always
    the CURRENT value) to a time-correct lookup; oracle is DuckDB's
    native ASOF LEFT JOIN.  The purchase side is pre-deduped to one
    row per (user, ts) so the match is deterministic without a
    tie-break column.  Plan shape: union + one hash shuffle on
    user_id + per-partition sort — no row amplification (see
    operators/asof.py)."""
    from kafkadirect_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.filter((F.col("event_type") == "click")
                        & F.col("user_id").isNotNull())
              .select("user_id", F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    purchases = (ev.filter((F.col("event_type") == "purchase")
                           & F.col("user_id").isNotNull())
                 .groupBy("user_id", "ts")
                 .agg(F.max("event_id").alias("purchase_id")))
    return asof_join(clicks, purchases, "user_id", "user_id",
                     "click_ts", "ts", value_cols=["purchase_id"])


@query(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (100 - CAST(l.l_discount*100 AS BIGINT))) AS DOUBLE)
             / 100.0 AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape on the DSL: segment-filtered customer dim
    (broadcast) ⋈ orders ⋈ lineitem fact stream, revenue per open
    order, top 10.  The top-k compiles to TakeOrderedAndProject —
    per-partition heaps merged on one reducer over k rows, never a
    global sort; the (revenue DESC, orderkey ASC) order is total, so
    the k-row result is deterministic and hash-comparable."""
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = Table(
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING"), key="c_custkey")
    orders = Stream(
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff), key="o_custkey")
    line = Stream(
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff), key="l_orderkey")
    open_orders = orders.join_table(
        cust, on=F.col("o_custkey") == F.col("c_custkey"))
    joined = line.df.join(
        open_orders.df, F.col("l_orderkey") == F.col("o_orderkey"))
    disc_cents = _dec("l_extendedprice") * (
        F.lit(100) - (F.col("l_discount") * 100).cast("bigint"))
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(disc_cents).cast("double") / F.lit(100.0))
             .alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "revenue_rollup",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (100 - CAST(l.l_discount*100 AS BIGINT))) AS DOUBLE)
             / 100.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP(region, nation) revenue — hierarchy subtotals +
    grand total in ONE pass (Spark expands the grouping sets inside a
    single hash aggregate; no reference analogue — Kafka Streams has
    no grouping sets at all, SURVEY.md §2.4 'not present').  Dims
    broadcast; decimal-cents discipline keeps the three aggregation
    levels bit-identical across engines."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        l.join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    disc_cents = _dec("l_extendedprice") * (
        F.lit(100) - (F.col("l_discount") * 100).cast("bigint"))
    return (
        joined
        .select(F.col("r_name").alias("region"),
                F.col("n_name").alias("nation"), disc_cents.alias("_c"))
        .rollup("region", "nation")
        .agg((F.sum("_c").cast("double") / F.lit(100.0)).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "event_gaps",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id))
               AS gap_us
      FROM events WHERE user_id IS NOT NULL)
    SELECT user_id,
           COUNT(gap_us) AS n_gaps,
           CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) / 1000000.0
             AS avg_gap_s,
           CAST(MAX(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_s
    FROM g GROUP BY user_id
    HAVING COUNT(gap_us) > 0
    """,
)
def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics via the analytic lag()
    window — ranking/analytic functions are absent from the reference
    (SURVEY.md §2.4 'not present'; per-partition log order is its only
    order concept) and free here.  The window partitions on user_id —
    gate-checked: never an unpartitioned sort.  The average is one
    IEEE division of exactly-agreed integer sums (µs gaps)."""
    from pyspark.sql import Window as W

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull()))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    def us(c):
        # events ts is TIMESTAMP_NTZ; unix_micros wants TIMESTAMP —
        # the session is pinned UTC, so the cast is value-preserving
        return F.unix_micros(c.cast("timestamp"))

    gap_us = (us(F.col("ts")) - us(F.lag("ts").over(w))).alias("gap_us")
    return (
        ev.select("user_id", gap_us)
        .groupBy("user_id")
        .agg(F.count("gap_us").alias("n_gaps"),
             (F.sum("gap_us").cast("double") / F.count("gap_us")
              / F.lit(1e6)).alias("avg_gap_s"),
             (F.max("gap_us").cast("double") / F.lit(1e6))
             .alias("max_gap_s"))
        .filter(F.col("n_gaps") > 0)
    )


@query(
    "returned_item_report",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (100 - CAST(l.l_discount*100 AS BIGINT))) AS DOUBLE)
             / 100.0 AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue —
    returnflag-filtered fact ⋈ orders ⋈ customer ⋈ nation, top 20 by
    revenue on a total order (TakeOrderedAndProject, never a global
    sort).  The returnflag filter pushes to the lineitem scan, so the
    join only sees returned lines."""
    l = (load_table(spark, sf_dir, "lineitem")
         .filter(F.col("l_returnflag") == "R"))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    disc_cents = _dec("l_extendedprice") * (
        F.lit(100) - (F.col("l_discount") * 100).cast("bigint"))
    joined = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        joined.groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg((F.sum(disc_cents).cast("double") / F.lit(100.0))
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (100 - CAST(l.l_discount*100 AS BIGINT))) AS DOUBLE)
             / 100.0 AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue from orders where the customer and the
    supplier share a nation, per nation of one region — the classic
    multiway star join with a non-key equality (c_nationkey =
    s_nationkey) riding the fact join.  All four dimensions broadcast;
    the only shuffles are the fact⋈fact orders⋈lineitem hash join and
    the final nation aggregate.  Beyond the reference's surface
    (SURVEY.md §2.3 — no multiway join primitive; users chain 2-way
    joins through repartition topics, one shuffle EACH)."""
    c = load_table(spark, sf_dir, "customer")
    o = (load_table(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >=
                  F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("o_orderdate") <
                    F.lit("1997-01-01").cast("timestamp"))))
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = (load_table(spark, sf_dir, "region")
         .filter(F.col("r_name") == "ASIA"))
    disc_cents = _dec("l_extendedprice") * (
        F.lit(100) - (F.col("l_discount") * 100).cast("bigint"))
    joined = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s),
              (l["l_suppkey"] == s["s_suppkey"])
              & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg((F.sum(disc_cents).cast("double") / F.lit(100.0))
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount*100 AS BIGINT)) AS DOUBLE) / 100.0
             AS promo_revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the would-be revenue increase from dropping
    small-quantity discounts — a pure scan-filter-aggregate with NO
    join and NO groupBy key (one partial-agg exchange of a single
    row).  All three predicates push to the parquet scan
    (PushedFilters gated in the plan sweep); the shape is the
    pushdown/pruning litmus test at 100 TB — a full-column scan here
    would read the whole fact table for a two-column answer."""
    l = (load_table(spark, sf_dir, "lineitem")
         .filter((F.col("l_shipdate") >=
                  F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("l_shipdate") <
                    F.lit("1997-01-01").cast("timestamp"))
                 & (F.col("l_discount") >= 0.05)
                 & (F.col("l_discount") <= 0.07)
                 & (F.col("l_quantity") < 24)))
    promo_cents = _dec("l_extendedprice") * \
        (F.col("l_discount") * 100).cast("bigint")
    return l.agg(
        (F.sum(promo_cents).cast("double") / F.lit(100.0))
        .alias("promo_revenue"),
        F.count(F.lit(1)).alias("n_items"))


@query(
    "large_order_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(l_quantity) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice, b.total_qty
    FROM big b
    JOIN orders o   ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers holding the largest orders by total
    quantity — a fact self-aggregation (HAVING) feeding a join back to
    orders/customer, top 100 on a total order.  The aggregate shrinks
    the fact side BEFORE any join (sf-proportional rows → a few
    hundred), so the joins are small-side; the top-k compiles to
    TakeOrderedAndProject, never a global sort."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (l.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
           .filter(F.col("total_qty") > 250))
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                F.col("o_totalprice").cast("double").alias("o_totalprice"),
                "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "priority_returned_orders",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def priority_returned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order counts per priority among orders with at
    least one returned line — an EXISTS correlation expressed as a
    LEFT SEMI join (the reference's closest primitive is an inner
    join that would DUPLICATE orders per matching line and need a
    re-distinct; semi-join short-circuits at first match and never
    amplifies).  The returnflag filter pushes to the lineitem scan."""
    o = load_table(spark, sf_dir, "orders")
    l = (load_table(spark, sf_dir, "lineitem")
         .filter(F.col("l_returnflag") == "R")
         .select("l_orderkey"))
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "asof_enrich_forward",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
    purchases AS (
      SELECT user_id, ts, MAX(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
      GROUP BY user_id, ts)
    SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.click_ts <= p.ts
    """,
)
def asof_enrich_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each click picks the user's EARLIEST purchase at
    or after its timestamp (time-to-conversion attribution) — the
    direction='forward' path of operators/asof.py, oracle'd by
    DuckDB's native forward ASOF (c.click_ts <= p.ts).  Same
    union + single key-shuffle plan as the backward join; the scan
    runs from the future backwards via desc ordering, no second
    sort."""
    from kafkadirect_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.filter((F.col("event_type") == "click")
                        & F.col("user_id").isNotNull())
              .select("user_id", F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    purchases = (ev.filter((F.col("event_type") == "purchase")
                           & F.col("user_id").isNotNull())
                 .groupBy("user_id", "ts")
                 .agg(F.max("event_id").alias("purchase_id")))
    return asof_join(clicks, purchases, "user_id", "user_id",
                     "click_ts", "ts", value_cols=["purchase_id"],
                     direction="forward")


# ---------------------------------------------------------------------------
# Relational additions: the remaining TPC-H query shapes this
# schema can express (Q2/Q7/Q8/Q9/Q13/Q15/Q16/Q17/Q19/Q21/Q22 adapted
# to the driver's columns — no partsupp/shipmode/receiptdate).  Each
# exercises a planner capability the reference lacks outright
# (SURVEY.md §2.3/§2.4: Kafka Streams has only binary equi-joins and
# per-key folds — no semi/anti joins, no scalar subqueries, no count
# distinct, no disjunctive predicate pushdown, no argmin join-back).
# ---------------------------------------------------------------------------


@query(
    "volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (100 - CAST(l.l_discount*100 AS BIGINT))) AS DOUBLE)
             / 100.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, l_year
    """,
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations per
    ship year.  The nation filter is pushed INTO both dimension sides
    before the fact join (supplier⋈nation and customer⋈nation each
    broadcast pre-filtered to the two nations), so the fact join drops
    ~92% of lines at the probe; the disjunctive nation-pair predicate
    collapses to supp_nation != cust_nation once both sides are
    restricted to the pair."""
    pair = ("NATION_1", "NATION_2")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    s = (load_table(spark, sf_dir, "supplier")
         .join(F.broadcast(n.filter(F.col("n_name").isin(*pair))),
               F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    c = (load_table(spark, sf_dir, "customer")
         .join(F.broadcast(n.filter(F.col("n_name").isin(*pair))),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_custkey", F.col("n_name").alias("cust_nation")))
    disc_cents = _dec("l_extendedprice") * (
        F.lit(100) - (F.col("l_discount") * 100).cast("bigint"))
    joined = (
        l.join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg((F.sum(disc_cents).cast("double") / F.lit(100.0))
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "market_share",
    oracle="""
    WITH j AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             n1.n_name AS supp_nation,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (100 - CAST(l.l_discount*100 AS BIGINT)) AS cents
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      JOIN region r   ON n2.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO')
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7'
                         THEN cents ELSE 0 END) AS DOUBLE)
             / CAST(SUM(cents) AS DOUBLE) AS mkt_share,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue
    FROM j GROUP BY o_year
    """,
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue sold
    into one region, per order year — a conditional aggregate (the
    share numerator rides the SAME hash aggregate as the denominator;
    one pass, one shuffle).  The share is a single IEEE division of
    two exactly-agreed decimal-cents sums, so it hash-matches
    bit-for-bit."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_type") == "PROMO").select("p_partkey"))
    n = load_table(spark, sf_dir, "nation")
    r = (load_table(spark, sf_dir, "region")
         .filter(F.col("r_name") == "EUROPE"))
    c = (load_table(spark, sf_dir, "customer")
         .join(F.broadcast(
             n.join(F.broadcast(r),
                    n["n_regionkey"] == r["r_regionkey"])),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_custkey"))
    s = (load_table(spark, sf_dir, "supplier")
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cents = _dec("l_extendedprice") * (
        F.lit(100) - (F.col("l_discount") * 100).cast("bigint"))
    joined = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(F.year("o_orderdate").cast("bigint").alias("o_year"),
                "supp_nation", cents.alias("cents"))
    )
    nat_cents = F.when(F.col("supp_nation") == "NATION_7",
                       F.col("cents")).otherwise(F.lit(0).cast("decimal(18,2)"))
    return (
        joined.groupBy("o_year")
        .agg((F.sum(nat_cents).cast("double")
              / F.sum("cents").cast("double")).alias("mkt_share"),
             (F.sum("cents").cast("double") / F.lit(100.0))
             .alias("revenue"))
    )


@query(
    "product_type_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (100 - CAST(l.l_discount*100 AS BIGINT))) AS DOUBLE)
             / 100.0 AS profit,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, o_year
    """,
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation, per-year profit on one product
    line, selected by a LIKE substring filter on the part name.  The
    contains() predicate evaluates inside the broadcast part build
    side — the fact scan is never widened by the pattern match — and
    the only shuffles are the orders hash join and the final (nation,
    year) aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_name").contains("widget"))
         .select("p_partkey"))
    n = load_table(spark, sf_dir, "nation")
    s = (load_table(spark, sf_dir, "supplier")
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("nation")))
    disc_cents = _dec("l_extendedprice") * (
        F.lit(100) - (F.col("l_discount") * 100).cast("bigint"))
    joined = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
    )
    return (
        joined.groupBy("nation",
                       F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg((F.sum(disc_cents).cast("double") / F.lit(100.0))
             .alias("profit"),
             F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "customer_order_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the histogram of customers by how many
    non-urgent orders they placed, INCLUDING zero-order customers —
    which forces a LEFT OUTER join (the reference's stream⋈table join
    drops unmatched rows unless spelled leftJoin, and its KTable has
    no outer-join-then-reaggregate idiom at all).  Two cascaded
    aggregations: the first counts per customer on the join key
    already shuffled by the join, the second is a near-trivial
    histogram shuffle over ≤ a few hundred distinct counts."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") != "1-URGENT")
         .select("o_custkey", "o_orderkey"))
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


@query(
    "top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (100 - CAST(l_discount*100 AS BIGINT))) AS cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.cents AS DOUBLE) / 100.0 AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.cents = (SELECT MAX(cents) FROM rev)
    """,
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly
    revenue — a scalar subquery (global MAX) rewritten as a broadcast
    of the one-row max cross-joined back onto the per-supplier
    aggregate.  The equality compare runs on exact decimal cents, so
    ties are found exactly (the double-rounded spelling could merge
    or split ties).  The revenue aggregate is computed ONCE and
    reused for both the max and the final filter."""
    l = (load_table(spark, sf_dir, "lineitem")
         .filter((F.col("l_shipdate") >=
                  F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("l_shipdate") <
                    F.lit("1996-04-01").cast("timestamp"))))
    s = load_table(spark, sf_dir, "supplier")
    disc_cents = _dec("l_extendedprice") * (
        F.lit(100) - (F.col("l_discount") * 100).cast("bigint"))
    rev = (l.groupBy("l_suppkey")
           .agg(F.sum(disc_cents).alias("cents")))
    best = rev.agg(F.max("cents").alias("best_cents"))
    return (
        rev.join(F.broadcast(best), rev["cents"] == best["best_cents"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name",
                (F.col("cents").cast("double") / F.lit(100.0))
                .alias("total_revenue"))
    )


@query(
    "supplier_part_variety",
    oracle="""
    SELECT p.p_brand, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 14, 23, 45)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_size
    """,
)
def supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct qualifying suppliers stock
    each (brand, size) — COUNT DISTINCT plus a NOT IN anti-join
    (complaint-supplier exclusion), neither of which the reference
    can express (SURVEY.md §2.4: per-key folds only — a distinct
    count needs a set-valued accumulator; NOT IN needs an anti-join).
    The excluded-supplier set broadcasts (LEFT ANTI, build side ~a
    handful of rows); count distinct expands to a two-level partial
    aggregate, still one logical shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    p = (load_table(spark, sf_dir, "part")
         .filter((F.col("p_brand") != "Brand#5")
                 & F.col("p_size").isin(1, 14, 23, 45))
         .select("p_partkey", "p_brand", "p_size"))
    bad = (load_table(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(bad), l["l_suppkey"] == bad["s_suppkey"],
              "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "small_quantity_revenue",
    oracle="""
    WITH pa AS (
      SELECT l2.l_partkey, AVG(l2.l_quantity) AS avg_qty
      FROM lineitem l2
      JOIN part p2 ON p2.p_partkey = l2.l_partkey
      WHERE p2.p_brand = 'Brand#3'
      GROUP BY l2.l_partkey)
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0 AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa    ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < 0.5 * pa.avg_qty
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in below-half-average-quantity
    orders of one brand — the classic CORRELATED scalar subquery
    (avg quantity of the same part) decorrelated into a per-part
    aggregate joined back onto the fact.  The brand filter broadcasts
    into BOTH the fact restriction and the average's population, so
    the per-part aggregate runs over the ~4% of lines that survive,
    not the whole table.  The avg is exact (integral quantities sum
    exactly in doubles; one correctly-rounded division), so the
    comparison never flips on a last ulp."""
    part_b = (load_table(spark, sf_dir, "part")
              .filter(F.col("p_brand") == "Brand#3")
              .select("p_partkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .join(F.broadcast(part_b),
                F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", "l_quantity", "l_extendedprice"))
    pa = (li.groupBy("l_partkey")
          .agg(F.avg("l_quantity").alias("avg_qty"))
          .withColumnRenamed("l_partkey", "pa_partkey"))
    return (
        li.join(F.broadcast(pa),
                F.col("l_partkey") == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg((F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0))
             .alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (100 - CAST(l.l_discount*100 AS BIGINT))) AS DOUBLE)
             / 100.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under three disjunctive
    (brand × size × quantity) branches.  The single-table residue of
    the OR — brand ∈ {12,23,4} on part, quantity ∈ [1,30] on
    lineitem — is factored OUT of the join predicate by hand (the
    same rewrite Catalyst's pushdown does for CNF-convertible
    disjuncts), so both scans prune before the broadcast join; the
    full three-way OR then evaluates residually on the joined row."""
    l = (load_table(spark, sf_dir, "lineitem")
         .filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)))
    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#4")
                 & (F.col("p_size") >= 1) & (F.col("p_size") <= 15))
         .select("p_partkey", "p_brand", "p_size"))
    disc_cents = _dec("l_extendedprice") * (
        F.lit(100) - (F.col("l_discount") * 100).cast("bigint"))
    branch = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .filter(branch)
        .agg((F.sum(disc_cents).cast("double") / F.lit(100.0))
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "lonely_returns",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_returnflag = 'R'
                                 THEN l_suppkey END) AS n_ret,
             MAX(CASE WHEN l_returnflag = 'R'
                      THEN l_suppkey END) AS ret_supp
      FROM lineitem GROUP BY l_orderkey)
    SELECT s.s_name, COUNT(*) AS numwait
    FROM per_order po
    JOIN supplier s ON po.ret_supp = s.s_suppkey
    WHERE po.n_supp > 1 AND po.n_ret = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name ASC
    LIMIT 20
    """,
)
def lonely_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE returning supplier
    on multi-supplier orders.  Q21's EXISTS / NOT EXISTS double
    correlation is algebraized into per-order aggregation (distinct
    suppliers, distinct returning suppliers, the returning supplier
    itself) instead of two correlated re-joins of the fact against
    itself; the n_ret = 1 guard makes MAX exactly 'the' lone
    returner.  Spelled as TWO stacked aggregates, not multi-column
    countDistinct: two distinct counts in one groupBy compile to an
    Expand that triples the fact before the first exchange, while
    the (orderkey, suppkey) pre-aggregate dedups map-side and the
    re-aggregate runs over the already-small pair frame (measured
    2.7 s → 1.3 s at sf0.1).  Supplier names broadcast; top-20
    compiles to TakeOrderedAndProject."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    per_pair = (
        l.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max((F.col("l_returnflag") == "R").cast("int"))
             .alias("ret"))
    )
    per_order = (
        per_pair.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_supp"),
             F.sum("ret").alias("n_ret"),
             F.max(F.when(F.col("ret") == 1, F.col("l_suppkey")))
             .alias("ret_supp"))
        .filter((F.col("n_supp") > 1) & (F.col("n_ret") == 1))
    )
    return (
        per_order.join(F.broadcast(s),
                       F.col("ret_supp") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@query(
    "idle_rich_customers",
    oracle="""
    WITH pos AS (
      SELECT SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS sum_cents,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0)
    SELECT n.n_name AS nation, COUNT(*) AS numcust,
           CAST(SUM(CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS DOUBLE) / 100.0 AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
            * (SELECT n FROM pos) > (SELECT sum_cents FROM pos)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY n.n_name
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no
    recent orders, totalled per nation — a global-average scalar
    subquery plus a NOT EXISTS anti-join.  The average comparison is
    cross-multiplied into pure BIGINT arithmetic (cents·count >
    sum_cents) so no division ever happens and the threshold can't
    drift by an ulp between engines.  The one-row aggregate
    broadcasts as a literal cross join; recent orders broadcast into
    a LEFT ANTI."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    recent = (load_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >=
                      F.lit("1999-01-01").cast("timestamp"))
              .select("o_custkey"))
    cents = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
    pos = (c.filter(F.col("c_acctbal") > 0)
           .agg(F.sum(cents).alias("sum_cents"),
                F.count(F.lit(1)).alias("n")))
    return (
        c.select("c_custkey", "c_nationkey", cents.alias("cents"))
        .join(F.broadcast(pos))
        .filter(F.col("cents") * F.col("n") > F.col("sum_cents"))
        .join(F.broadcast(recent),
              F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(n),
              F.col("c_nationkey") == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("numcust"),
             (F.sum("cents").cast("double") / F.lit(100.0))
             .alias("totacctbal"))
    )


@query(
    "cheapest_supplier",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l.l_partkey, l.l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_size <= 15 AND p.p_type = 'SMALL'),
    ranked AS (
      SELECT ps.l_partkey, ps.l_suppkey,
             ROW_NUMBER() OVER (PARTITION BY ps.l_partkey
                                ORDER BY s.s_acctbal ASC,
                                         ps.l_suppkey ASC) AS rn
      FROM ps JOIN supplier s ON ps.l_suppkey = s.s_suppkey)
    SELECT r.l_partkey AS p_partkey, p.p_brand, s.s_suppkey, s.s_name,
           CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM ranked r
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    JOIN part p     ON r.l_partkey = p.p_partkey
    WHERE r.rn = 1
    ORDER BY s.s_acctbal ASC, p_partkey ASC
    LIMIT 100
    """,
)
def cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each small part, the observed supplier with
    the lowest account balance — the correlated MIN subquery as an
    argmin JOIN-BACK: distinct (part, supplier) pairs from the fact,
    a row_number window partitioned by partkey (high-cardinality —
    passes the low-cardinality rank-window lint) with a total
    (acctbal, suppkey) order so ties break deterministically, rank-1
    survivors only.  Supplier and part dims broadcast on the way out."""
    from pyspark.sql import Window as W

    p = (load_table(spark, sf_dir, "part")
         .filter((F.col("p_size") <= 15) & (F.col("p_type") == "SMALL"))
         .select("p_partkey", "p_brand"))
    s = load_table(spark, sf_dir, "supplier")
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p),
              F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey").distinct()
    )
    w = (W.partitionBy("l_partkey")
         .orderBy(F.col("s_acctbal").asc(), F.col("l_suppkey").asc()))
    ranked = (
        pairs.join(F.broadcast(s.select("s_suppkey", "s_acctbal", "s_name")),
                   F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        ranked.join(F.broadcast(p.select("p_partkey", "p_brand")),
                    F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_partkey").alias("p_partkey"), "p_brand",
                "s_suppkey", "s_name",
                F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy(F.col("s_acctbal").asc(), F.col("p_partkey").asc())
        .limit(100)
    )


@query(
    "scd2_history",
    oracle="""
    SELECT user_id, value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to
    FROM events
    WHERE user_id IS NOT NULL AND event_type = 'purchase'
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history: each purchase event
    becomes a versioned row valid from its own timestamp until the
    user's next purchase (NULL = still current) — the
    changelog→dimension-history build every warehouse needs and the
    reference cannot express (its KTable keeps only latest-per-key;
    SURVEY.md §1.1 compaction discards history).  One lead() window
    partitioned on high-cardinality user_id; no join, one shuffle."""
    from pyspark.sql import Window as W

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull()
                  & (F.col("event_type") == "purchase")))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"))


@query(
    "sessionize_events",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts)
                       - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id))
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE user_id IS NOT NULL),
    s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS start_ts, MAX(ts) AS end_ts
    FROM s GROUP BY user_id, session_seq
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level sessionization by gaps-and-islands: a session break
    is a >30 min silence; the running SUM of break flags numbers each
    user's sessions 1..n, then sessions aggregate to (count, span).
    This assigns a JOINABLE session id to every event — which
    F.session_window (and the reference's SessionWindows, able only
    to aggregate into merged windows) cannot do.  Both windows and
    the final aggregate partition on high-cardinality user_id: one
    shuffle total, reused across all three operators."""
    from pyspark.sql import Window as W

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull()))
    order = W.partitionBy("user_id").orderBy("ts", "event_id")

    def us(c):
        return F.unix_micros(c.cast("timestamp"))

    prev = F.lag("ts").over(order)
    is_new = (prev.isNull()
              | ((us(F.col("ts")) - us(prev)) > 1_800_000_000)) \
        .cast("long")
    seq = F.sum(is_new).over(
        order.rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        ev.select("user_id", "ts",
                  seq.alias("session_seq"))
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("start_ts"),
             F.max("ts").alias("end_ts"))
    )


@query(
    "important_part_stock",
    oracle="""
    WITH natsupp AS (
      SELECT s_suppkey FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_7'),
    val AS (
      SELECT l.l_partkey,
             SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)
                 * CAST(l.l_quantity AS BIGINT)) AS value_cents
      FROM lineitem l
      JOIN natsupp ns ON l.l_suppkey = ns.s_suppkey
      GROUP BY l.l_partkey)
    SELECT v.l_partkey AS p_partkey,
           CAST(v.value_cents AS DOUBLE) / 100.0 AS stock_value
    FROM val v
    WHERE v.value_cents * 1000 > (SELECT SUM(value_cents) FROM val)
    """,
)
def important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value from one nation's
    suppliers exceeds a FRACTION of that nation's total — the
    group-vs-global scalar-subquery HAVING (Q11's signature; the
    reference has no subqueries at all, SURVEY.md §2.4).  Adapted to
    the driver's schema (no partsupp table): "stock value" is
    lineitem value (price·qty) through the nation's suppliers.  The
    threshold compare is cross-multiplied into pure BIGINT cents
    (value·1000 > total) so no float division can flip a boundary
    row.  Nation and its ≤ a-few suppliers broadcast into the fact
    scan; the per-part aggregate shuffles once; the one-row total
    rides back as a broadcast literal (BNLJ-allowlisted)."""
    s = load_table(spark, sf_dir, "supplier")
    n = (load_table(spark, sf_dir, "nation")
         .filter(F.col("n_name") == "NATION_7"))
    ns = (s.join(F.broadcast(n),
                 s["s_nationkey"] == n["n_nationkey"])
          .select("s_suppkey"))
    cents = ((F.col("l_extendedprice").cast("decimal(18,2)") * 100)
             .cast("bigint") * F.col("l_quantity").cast("bigint"))
    val = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(ns), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("value_cents"))
    )
    tot = val.agg(F.sum("value_cents").alias("total_cents"))
    return (
        val.join(F.broadcast(tot))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select(F.col("l_partkey").alias("p_partkey"),
                (F.col("value_cents").cast("double") / F.lit(100.0))
                .alias("stock_value"))
    )


@query(
    "late_shipment_priority",
    oracle="""
    SELECT CASE WHEN DATEDIFF('day', o.o_orderdate, l.l_shipdate) > 90
                THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per shipping-speed bucket, how many lines
    belonged to urgent vs non-urgent orders — the conditional
    SUM(CASE) pivot over a fact⋈fact join.  Adapted to the driver's
    schema (no l_shipmode/receiptdate): the bucket is derived from
    the order→ship delay itself.  Both sides shuffle on the order key
    (orders is a fact, not a dimension — at 100 TB neither side
    broadcasts); the ship-date year filter pushes to the lineitem
    scan, and the two-bucket aggregate collapses map-side before the
    final near-trivial exchange."""
    o = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
    l = (load_table(spark, sf_dir, "lineitem")
         .filter((F.col("l_shipdate") >=
                  F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("l_shipdate") <
                    F.lit("1997-01-01").cast("timestamp")))
         .select("l_orderkey", "l_shipdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.when(
        F.datediff(F.col("l_shipdate").cast("date"),
                   F.col("o_orderdate").cast("date")) > 90,
        "SLOW").otherwise("FAST")
    joined = o.join(l, o["o_orderkey"] == l["l_orderkey"])
    return (
        joined
        .groupBy(bucket.alias("ship_bucket"))
        .agg(F.sum(high.cast("long")).alias("high_line_count"),
             F.sum((~high).cast("long")).alias("low_line_count"))
    )


@query(
    "promotable_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l.l_suppkey, l.l_partkey,
             SUM(CAST(l.l_quantity AS BIGINT)) AS supp_qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'red %'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l.l_suppkey, l.l_partkey),
    q AS (
      SELECT l_suppkey, supp_qty,
             SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
      FROM shipped)
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM q JOIN supplier s ON q.l_suppkey = s.s_suppkey
    WHERE q.supp_qty * 2 > q.part_qty
    """,
)
def promotable_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped the MAJORITY of some
    red-named part's yearly volume — Q20's nested IN-subquery chain
    (part-name prefix → per-(supp, part) aggregate → correlated
    half-of-total threshold → semi-join up to supplier) decorrelated
    the Spark way.  Adapted to the driver's schema (no partsupp
    availability): the correlated threshold compares a supplier's
    shipped quantity against the part's total.  The name-filtered
    part keys broadcast into the scan; one shuffle builds the
    (supp, part) partials; the part total is a sum window over the
    high-cardinality part key (not a rank — lint-clean); quantities
    stay integral BIGINT so the majority compare is exact."""
    from pyspark.sql import Window as W

    pr = (load_table(spark, sf_dir, "part")
          .filter(F.col("p_name").like("red %"))
          .select("p_partkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >=
                   F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") <
                     F.lit("1997-01-01").cast("timestamp")))
          .join(F.broadcast(pr),
                F.col("l_partkey") == F.col("p_partkey")))
    shipped = (li.groupBy("l_suppkey", "l_partkey")
               .agg(F.sum(F.col("l_quantity").cast("bigint"))
                    .alias("supp_qty")))
    part_qty = F.sum("supp_qty").over(W.partitionBy("l_partkey"))
    winners = (shipped
               .withColumn("part_qty", part_qty)
               .filter(F.col("supp_qty") * 2 > F.col("part_qty"))
               .select("l_suppkey").distinct())
    s = load_table(spark, sf_dir, "supplier")
    return (winners.join(F.broadcast(s),
                         F.col("l_suppkey") == s["s_suppkey"])
            .select("s_suppkey", "s_name"))
