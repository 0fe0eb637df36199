"""Behavioral event analytics: ordered-funnel conversion and frequent
event-path mining over an event stream table — the product-analytics
pair (which steps do users complete, and along which paths) that a
clickstream warehouse answers daily at 100 TB.

Both operators are integer-exact relational compositions (no floats
cross an engine boundary): funnel lags are epoch-second BIGINTs,
conversion is a truncating permille, path counts are plain counts —
the DuckDB oracles replay every value bit-for-bit.

Reference analogue: none (SURVEY.md §2 — the reference has grouped /
windowed aggregation but no ordered-sequence operators); beyond-parity
analytics beside the sessionization (`streaming/sessions.py`) and
retention (`retention_cohorts`) surfaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_steps(events: DataFrame, user_col: str, ts_col: str,
                 type_col: str, steps: list[str],
                 within_seconds: int | None = None) -> DataFrame:
    """Ordered funnel: a user completes step ``k`` at the EARLIEST
    event of type ``steps[k]`` that is strictly after their step-k−1
    completion (and, with ``within_seconds``, no later than
    ``within_seconds`` after their step-0 completion — the classic
    conversion-window form).  Returns one row per step:
    ``(step, event_type, n_users, conversion_permille,
    sum_lag_seconds)`` where ``conversion_permille`` is
    ``1000·n_k DIV n_0`` and ``sum_lag_seconds`` totals each
    converting user's step-0→step-k lag in whole epoch seconds.

    Scale shape: the cascade is ``len(steps)`` filtered aggregations,
    each ONE narrow exchange on the user id over only that step's
    events (filter pushed to the scan), joined user-to-user hash —
    never a per-user event collect, never a window over the raw
    stream; a bot user with 10^9 events costs one hot aggregation
    key (min is algebraic, absorbed map-side), not a 10^9-row sort.
    The k result rows aggregate from ≤ |users| rows per step.
    """
    if len(steps) < 2:
        raise ValueError("steps must name at least 2 event types")
    if len(set(steps)) != len(steps):
        raise ValueError("steps must be distinct")
    if within_seconds is not None and within_seconds < 1:
        raise ValueError("within_seconds must be >= 1")
    ev = events.select(F.col(user_col).alias("u"),
                       F.col(ts_col).alias("t"),
                       F.col(type_col).alias("y")) \
               .filter(F.col("u").isNotNull())
    cur = (ev.filter(F.col("y") == steps[0])
           .groupBy("u").agg(F.min("t").alias("t0"))
           .withColumn("t_prev", F.col("t0")))
    per_step = [cur.select("u", F.col("t0").alias("tk"), "t0")]
    for s in steps[1:]:
        nxt = ev.filter(F.col("y") == s).join(cur, "u")
        nxt = nxt.filter(F.col("t") > F.col("t_prev"))
        if within_seconds is not None:
            nxt = nxt.filter(
                F.unix_timestamp("t") - F.unix_timestamp("t0")
                <= within_seconds)
        cur = (nxt.groupBy("u")
               .agg(F.min("t").alias("tk"), F.first("t0").alias("t0"))
               .withColumn("t_prev", F.col("tk")))
        per_step.append(cur.select("u", "tk", "t0"))
    rows = None
    for i, (s, df) in enumerate(zip(steps, per_step)):
        r = df.agg(
            F.lit(i + 1).cast("long").alias("step"),
            F.lit(s).alias("event_type"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.unix_timestamp("tk") - F.unix_timestamp("t0"))
            .cast("long").alias("sum_lag_seconds"))
        rows = r if rows is None else rows.unionByName(r)
    base = per_step[0].agg(F.count(F.lit(1)).alias("__n0"))
    return (rows.join(F.broadcast(base))
            .select("step", "event_type", "n_users",
                    F.expr("CAST(1000 * n_users DIV "
                           "greatest(__n0, 1) AS LONG)")
                    .alias("conversion_permille"),
                    F.coalesce("sum_lag_seconds",
                               F.lit(0).cast("long"))
                    .alias("sum_lag_seconds")))


def funnel_steps_oracle_sql(steps: list[str],
                            within_seconds: int | None = None,
                            table: str = "events",
                            user_col: str = "user_id",
                            ts_col: str = "ts",
                            type_col: str = "event_type") -> str:
    """DuckDB replay of ``funnel_steps``: the same min-ts cascade as
    chained CTEs, epoch-second lags, truncating permille.

    Epoch assumption: ``epoch_ms // 1000`` matches
    Spark's ``unix_timestamp`` only for timestamps >= 1970 — DuckDB's
    ``//`` truncates toward zero while Spark FLOORS, so the two
    diverge by 1s on negative-epoch subsecond timestamps.  The events
    table (and any sane event log) is post-1970; the oracle assumes
    that."""
    # epoch_ms // 1000 truncates like Spark's unix_timestamp for
    # NON-NEGATIVE epochs (the events table carries subsecond parts;
    # epoch(..)::BIGINT would ROUND and disagree on half-second
    # boundaries)
    w = (f"AND epoch_ms(e.{ts_col}) // 1000 "
         f"- epoch_ms(s0.t0) // 1000 <= {within_seconds}"
         if within_seconds is not None else "")
    ctes = [f"""s1 AS (
      SELECT {user_col} AS u, min({ts_col}) AS tk,
             min({ts_col}) AS t0
      FROM {table}
      WHERE {type_col} = '{steps[0]}' AND {user_col} IS NOT NULL
      GROUP BY 1)"""]
    for i, s in enumerate(steps[1:], start=2):
        ctes.append(f"""s{i} AS (
      SELECT e.{user_col} AS u, min(e.{ts_col}) AS tk,
             min(s0.t0) AS t0
      FROM {table} e
      JOIN s{i - 1} p ON e.{user_col} = p.u
      JOIN s1 s0 ON e.{user_col} = s0.u
      WHERE e.{type_col} = '{s}' AND e.{ts_col} > p.tk {w}
      GROUP BY 1)""")
    arms = []
    for i, s in enumerate(steps, start=1):
        arms.append(f"""
      SELECT {i}::BIGINT AS step, '{s}' AS event_type,
             count(*)::BIGINT AS n_users,
             coalesce(sum(epoch_ms(tk) // 1000
                          - epoch_ms(t0) // 1000),
                      0)::BIGINT AS sum_lag_seconds
      FROM s{i}""")
    return f"""
    WITH {', '.join(ctes)},
    arms AS ({' UNION ALL '.join(arms)}),
    base AS (SELECT count(*)::BIGINT AS n0 FROM s1)
    SELECT step, event_type, n_users,
           (1000 * n_users // greatest(n0, 1))::BIGINT
             AS conversion_permille,
           sum_lag_seconds
    FROM arms CROSS JOIN base
    """


def path_topk(events: DataFrame, user_col: str, ts_col: str,
              type_col: str, n: int = 3, k: int = 10,
              order_break_col: str | None = None) -> DataFrame:
    """The ``k`` most frequent length-``n`` consecutive event-type
    paths across all users — "what do users actually do", the path-
    analysis companion to the hypothesis-driven funnel.  Paths are
    built per user in (ts, tiebreak) order with ``lead`` windows (a
    user's j-th path is their events j..j+n−1), counted corpus-wide,
    ties broken by path string.  Returns ``(path, n_occurrences,
    rank)`` with ``path`` joined by ``>``.

    Scale shape: ONE window pass partitioned by the user id (the
    per-user ORDER BY is the sessionization envelope — a user's own
    event count bounds the task-local sort, nothing global sorts),
    one count exchange on the path, and a TakeOrdered top-k — never a
    per-user collect, never a global sort.  Supply
    ``order_break_col`` (e.g. the event id) to make same-timestamp
    orders deterministic; it defaults to the type column, which is
    deterministic but groups same-ts events by type name.
    """
    from pyspark.sql import Window

    if n < 2:
        raise ValueError("n must be >= 2")
    if k < 1:
        raise ValueError("k must be >= 1")
    brk = order_break_col or type_col
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col),
                                             F.col(brk))
    cols = [F.col(type_col)] + [F.lead(type_col, j).over(w)
                                for j in range(1, n)]
    grams = (events.filter(F.col(user_col).isNotNull())
             .select(F.concat_ws(">", *cols).alias("path"),
                     cols[-1].isNotNull().alias("__full"))
             .filter(F.col("__full")))
    counted = grams.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    top = (counted.orderBy(F.col("n_occurrences").desc(),
                           F.col("path").asc())
           .limit(k))
    # rank over ≤ k rows (bounded by construction — LIMIT feeds it)
    wr = Window.orderBy(F.col("n_occurrences").desc(),
                        F.col("path").asc())
    return top.withColumn("rank",
                          F.row_number().over(wr).cast("long"))


def path_topk_oracle_sql(n: int = 3, k: int = 10,
                         table: str = "events",
                         user_col: str = "user_id",
                         ts_col: str = "ts",
                         type_col: str = "event_type",
                         order_break_col: str | None = None) -> str:
    """DuckDB replay of ``path_topk`` — identical lead windows, path
    join, count, and (count desc, path) ranking."""
    brk = order_break_col or type_col
    leads = [type_col] + [
        f"lead({type_col}, {j}) OVER (PARTITION BY {user_col} "
        f"ORDER BY {ts_col}, {brk})" for j in range(1, n)]
    parts = ", ".join(f"c{i}" for i in range(n))
    sel = ", ".join(f"{e} AS c{i}" for i, e in enumerate(leads))
    return f"""
    WITH g AS (
      SELECT {sel}
      FROM {table} WHERE {user_col} IS NOT NULL),
    p AS (
      SELECT concat_ws('>', {parts}) AS path
      FROM g WHERE c{n - 1} IS NOT NULL),
    c AS (
      SELECT path, count(*)::BIGINT AS n_occurrences
      FROM p GROUP BY path)
    SELECT path, n_occurrences,
           row_number() OVER (ORDER BY n_occurrences DESC, path)
             ::BIGINT AS rank
    FROM c ORDER BY n_occurrences DESC, path LIMIT {k}
    """


def attribution_last_touch(events: DataFrame, user_col: str,
                           ts_col: str, type_col: str,
                           conversion: str,
                           within_seconds: int | None = None,
                           order_break_col: str | None = None
                           ) -> DataFrame:
    """Last-touch conversion attribution — the credit-
    assignment companion to the funnel (which counts conversions) and
    the path miner (which counts sequences): every ``conversion``
    event is attributed to the LATEST non-conversion event type
    strictly before it in the user's (ts, tiebreak) order — and, with
    ``within_seconds``, no further back than that lookback (whole
    epoch seconds, the funnel convention).  Conversions with no
    qualifying touch attribute to ``(direct)``.  Returns one row per
    attributed type: ``(touch_type, n_conversions, share_milli,
    sum_lag_seconds)`` with ``share_milli = 1000·n DIV total`` and
    lags summed over attributed conversions only.

    Scale shape: ONE window pass partitioned by the user id
    (``last(..., ignorenulls)`` over rows-preceding — a user's own
    event count bounds the task-local sort, nothing global sorts),
    one aggregate on the ≤|types|-row attribution key, and the one-ROW
    conversion total broadcast onto the report frame for the share
    (the funnel_steps scalar-subquery shape — needs the same
    ``_BNLJ_OK`` entry if registered).  Supply ``order_break_col``
    (e.g. the event id) for deterministic same-timestamp order.

    Cache note: the tiny report frame is registered via
    ``dedup._persist`` so the shared lineage runs once; like every
    ``_persist`` user it stays pinned until
    ``dedup.release_caches()`` — long-lived sessions invoking this
    repeatedly should call that (each entry is ≤|types| rows, but the
    registry itself is unbounded in count).
    """
    from pyspark.sql import Window

    if within_seconds is not None and within_seconds < 1:
        raise ValueError("within_seconds must be >= 1")
    brk = order_break_col or type_col
    w = (Window.partitionBy(user_col)
         .orderBy(F.col(ts_col), F.col(brk))
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.when(
        F.col(type_col) != conversion,
        F.struct(F.col(ts_col).alias("t"),
                 F.col(type_col).alias("y")))
    conv = (events.filter(F.col(user_col).isNotNull())
            .withColumn("__lt", F.last(touch, ignorenulls=True).over(w))
            .filter(F.col(type_col) == conversion))
    lag = (F.unix_timestamp(ts_col)
           - F.unix_timestamp(F.col("__lt.t")))
    qualified = F.col("__lt").isNotNull() & (
        F.lit(True) if within_seconds is None
        else lag <= within_seconds)
    conv = conv.select(
        F.when(qualified, F.col("__lt.y"))
         .otherwise(F.lit("(direct)")).alias("touch_type"),
        F.when(qualified, lag).otherwise(F.lit(0))
         .cast("long").alias("__lag"))
    from kafkadirect_spark.functions.dedup import _persist

    # the conversion total == Σ n_conversions, so derive it from the
    # ≤|types|-row report frame — re-aggregating `conv` would run the
    # full user-partitioned window pass a second time; persisting the
    # tiny report makes the shared lineage run ONCE even without
    # exchange reuse
    rep = _persist(conv.groupBy("touch_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.sum("__lag").cast("long").alias("sum_lag_seconds")))
    total = rep.agg(F.sum("n_conversions").alias("__n"))
    return (rep.join(F.broadcast(total))
            .select("touch_type", "n_conversions",
                    F.expr("CAST(1000 * n_conversions DIV "
                           "greatest(__n, 1) AS LONG)")
                    .alias("share_milli"),
                    "sum_lag_seconds"))


def attribution_oracle_sql(conversion: str,
                           within_seconds: int | None = None,
                           table: str = "events",
                           user_col: str = "user_id",
                           ts_col: str = "ts",
                           type_col: str = "event_type",
                           order_break_col: str | None = None) -> str:
    """DuckDB replay of ``attribution_last_touch`` — identical
    rows-preceding IGNORE NULLS window, whole-second lookback,
    ``(direct)`` fallback, truncating share.

    Epoch assumption: the ``epoch_ms // 1000`` lag
    matches Spark's ``unix_timestamp`` only for timestamps >= 1970
    (DuckDB ``//`` truncates toward zero, Spark floors — a 1s
    divergence on negative-epoch subsecond timestamps)."""
    brk = order_break_col or type_col
    win = (f"PARTITION BY {user_col} ORDER BY {ts_col}, {brk} "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING")
    lag = (f"epoch_ms({ts_col}) // 1000 "
           "- epoch_ms(lt.t) // 1000")
    qual = "lt IS NOT NULL" if within_seconds is None else (
        f"lt IS NOT NULL AND {lag} <= {within_seconds}")
    return f"""
    WITH e AS (
      SELECT {user_col}, {ts_col}, {type_col}, {brk}
      FROM {table} WHERE {user_col} IS NOT NULL),
    c AS (
      SELECT {ts_col}, {type_col},
             last_value(CASE WHEN {type_col} <> '{conversion}'
                             THEN struct_pack(
                               t := {ts_col}, y := {type_col}) END
                        IGNORE NULLS) OVER ({win}) AS lt
      FROM e),
    conv AS (
      SELECT CASE WHEN {qual} THEN lt.y ELSE '(direct)' END
               AS touch_type,
             CASE WHEN {qual} THEN {lag} ELSE 0 END AS lag_s
      FROM c WHERE {type_col} = '{conversion}'),
    rep AS (
      SELECT touch_type, count(*)::BIGINT AS n_conversions,
             sum(lag_s)::BIGINT AS sum_lag_seconds
      FROM conv GROUP BY touch_type),
    tot AS (SELECT count(*)::BIGINT AS n FROM conv)
    SELECT touch_type, n_conversions,
           (1000 * n_conversions // greatest(tot.n, 1))::BIGINT
             AS share_milli,
           sum_lag_seconds
    FROM rep CROSS JOIN tot
    """
