"""Physical-plan quality gates — the 100 TB contract, pinned as tests:
filters and projections reach the parquet scan, dimension joins
broadcast, time-travel bounds prune row groups even on nanos columns."""

import re

import pytest
from pyspark.sql import functions as F

from kafkadirect_spark.sources.batch import load_table, scan_table_from
from kafkadirect_spark.testing import explain_formatted as _formatted

SF = "/root/testdata/sf0.001"


def _pushed(df):
    return re.findall(r"PushedFilters: \[([^\]]*)\]", _formatted(df))


def test_filter_pushdown_and_column_pruning(spark):
    df = (load_table(spark, SF, "lineitem")
          .filter(F.col("l_quantity") > 25).select("l_orderkey"))
    plan = _formatted(df)
    assert "GreaterThan(l_quantity,25.0)" in plan
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) >= {"l_orderkey", "l_quantity"}
    assert "l_extendedprice" not in m.group(1)  # pruned


def test_time_travel_pushes_nanos_bound(spark):
    df = scan_table_from(spark, SF, "events", "ts", "2024-01-02 00:00:00")
    pushed = " ".join(_pushed(df))
    assert "GreaterThanOrEqual(ts," in pushed, pushed
    # and values are correct after normalization
    assert df.filter(F.col("ts") < F.lit("2024-01-02").cast("timestamp")).count() == 0


def test_dim_join_broadcasts(spark):
    from kafkadirect_spark.core import Stream, Table
    ev = Stream(load_table(spark, SF, "events"), key="user_id", ts="ts")
    cust = Table(load_table(spark, SF, "customer"), key="c_custkey")
    out = ev.join_table(cust, on=F.col("user_id") == F.col("c_custkey"))
    assert "BroadcastHashJoin" in _formatted(out.df)


def test_no_cartesian_in_interval_join(spark):
    from kafkadirect_spark.core import JoinWindows, Stream
    ev = load_table(spark, SF, "events")
    l = Stream(ev.select("user_id", F.col("ts").alias("lts")), key="user_id", ts="lts")
    r = Stream(ev.select(F.col("user_id").alias("u2"), F.col("ts").alias("rts")),
               key="u2", ts="rts")
    out = l.join_interval(r, on=F.col("user_id") == F.col("u2"),
                          windows=JoinWindows.of("5 minutes"))
    plan = _formatted(out.df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ivf_centroids_broadcast_single_scoring_pass(spark):
    """IVF: centroid scoring must be a broadcast nested-loop (the
    centroid set rides to the data), and the scoring cross product
    must appear ONCE in the plan — assignment and probe set reuse one
    persisted pass, not two scans of index × centroids."""
    from kafkadirect_spark.functions import similarity
    emb = load_table(spark, SF, "embeddings")
    plan = emb.sparkSession.sparkContext is not None and \
        similarity.ivf_topk(emb, "vec_id", "embedding", k=3)
    txt = _formatted(plan)
    assert "BroadcastNestedLoopJoin" in txt
    # both consumers (assignment + probes) must read the persisted
    # scoring pass, not recompute the index × centroid cross product
    # (the cache's child plan is printed per consumer, so count the
    # InMemoryTableScans, not the join nodes)
    assert txt.count("InMemoryTableScan") >= 2, txt[:2000]
    assert "CartesianProduct" not in txt


def test_connected_components_plan_stays_shallow(spark):
    """The label-propagation loop must localCheckpoint each round so
    the plan depth does not grow with iterations (lineage blow-up is
    the classic iterative-DataFrame trap at scale)."""
    from kafkadirect_spark.functions import dedup
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long")
    labels = dedup.connected_components(pairs, driver_threshold=0)  # force the distributed loop; diameter 11 → many rounds
    txt = _formatted(labels)
    # a checkpointed frame shows as an ExistingRDD/LogicalRDD scan,
    # not a 11-round join tower
    assert txt.count("Join") <= 2, txt[:2000]


def test_decontaminate_broadcasts_eval_set(spark):
    """Decontamination must ship the (tiny) eval shingle set to the
    train corpus as a broadcast — a shuffle join here would repartition
    the TB-scale train side against an MB-scale benchmark set."""
    from kafkadirect_spark.functions import curation
    docs = load_table(spark, SF, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    out = curation.decontaminate(train, ev, "text", "doc_id", n=8)
    txt = _formatted(out)
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt


def test_split_and_sample_are_shuffle_free(spark):
    """Split assignment and stratified sampling are pure row-local
    Column expressions — no Exchange may appear in their plans."""
    from kafkadirect_spark.functions import curation
    docs = load_table(spark, SF, "documents")
    split = curation.split_assign(docs, "doc_id", {"train": 0.9, "val": 0.1})
    samp = curation.stratified_sample(
        docs.withColumn("s", F.lit("x")), "s", {"x": 0.5}, "doc_id")
    for df in (split, samp):
        assert "Exchange" not in _formatted(df)


def test_pack_sequences_single_shuffle(spark):
    """Sequence packing shuffles once (hash-partition by shard) and
    sorts only within partitions — no global sort at any scale."""
    from kafkadirect_spark.functions import curation
    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n"))
    out = curation.pack_sequences(docs, "doc_id", "n", budget=1024, n_shards=8)
    txt = _formatted(out)
    # formatted explain prints each node twice (tree + detail): count ids
    assert len(re.findall(r"\(\d+\) Exchange", txt)) == 1, txt[:2000]
    # the sort under the window is partition-local (no range exchange)
    assert "rangepartitioning" not in txt.lower()


def _unpartitioned_windows(df):
    """Logical Window nodes with an empty partitionSpec — at scale one
    task sorts the whole input, the classic global-sort killer."""
    bad, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            bad.append(node.simpleString(120))
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return bad


# Columns whose value domain is known-tiny in the test corpus schema:
# a rank window partitioned ONLY on these funnels the whole input
# through |domain| reducers — the quality_topk_per_lang defect from
# round 4's verdict.  (Running-sum windows like pack_sequences' shard
# cumsum are exempt: shard count is an explicit scale knob, and the
# window is not a rank.)
_LOW_CARD_COLS = {"pred_lang", "split", "source", "lang", "split_name"}
_RANK_FNS = ("row_number()", "rank(", "dense_rank(")


def _subtree_has_wider_window(node, width):
    """True if any descendant Window partitions on MORE expressions —
    i.e. a salted phase-1 rank feeding this bounded re-rank."""
    kids, stack = node.children(), []
    for i in range(kids.size()):
        stack.append(kids.apply(i))
    while stack:
        n = stack.pop()
        if n.nodeName() == "Window" and n.partitionSpec().size() > width:
            return True
        kids = n.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return False


def _lowcard_rank_windows(df):
    """Rank windows whose ENTIRE partition spec is known-low-cardinality
    columns, with no salted (wider) rank window beneath them bounding
    the rows they sort."""
    bad, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window":
            s = node.simpleString(1000)
            spec = node.partitionSpec()
            if (any(fn in s for fn in _RANK_FNS)
                    and not spec.isEmpty()):
                names = set()
                for i in range(spec.size()):
                    names.add(spec.apply(i).sql().strip("`").split("#")[0])
                if (names <= _LOW_CARD_COLS
                        and not _subtree_has_wider_window(node, spec.size())):
                    bad.append(node.simpleString(160))
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return bad


# Queries allowed a BroadcastNestedLoopJoin: IVF-family scoring rides
# the (tiny, literal) centroid set to the data by construction — the
# broadcast IS the design (test_ivf_centroids_broadcast... above).
_BNLJ_OK = {
    "similarity_ann_ivf",
    # IVFADC composite (registered r12): its coarse-quantizer scoring
    # is the SAME bounded centroid broadcast as similarity_ann_ivf
    # (≤ |probes| × |centroids| rows by construction — probes are
    # capped by max_probes, centroids by centroid_stride); the ADC
    # stage after it is hash joins only.
    "similarity_ivf_pq",
    # IVFADC+R (registered r13): the SAME bounded centroid broadcast
    # as similarity_ivf_pq inside its shortlist stage; the +R re-rank
    # after it is one hash join of the ≤ probes·n·refine-row
    # shortlist plus a row-local zip_with fold — no new nested-loop
    # shape is introduced by the refinement.
    "similarity_ivf_pq_rerank",
    # KMV slice matrix (registered r13): the all-pairs join runs over
    # SKETCH rows — one row of ≤ k=256 minima per slice, |slices|
    # bounded by the group column's domain (20 sources → 190 pairs),
    # never the corpus; the broadcast nested loop IS the |slices|²/2
    # pair enumeration, bounded by construction at any data volume.
    "kmv_slice_matrix",
    # hybrid RRF (registered r13): its BM25 arm composes bm25_search's
    # machinery verbatim — the one-ROW (N, Σdl) corpus stats ride onto
    # the (doc, query-term) tf table as a broadcast literal (the same
    # scalar-subquery pattern as the bm25_search entry below).
    "hybrid_rrf",
    # funnel report (registered r13): the one-ROW step-0 cohort count
    # (__n0) rides onto the ≤ |steps|-row report frame for the
    # conversion permille — the scalar-subquery pattern; the cascade
    # itself is filtered hash aggregations and user-keyed hash joins.
    "funnel_steps",
    # waterfill allocator (registered r13): one-ROW aggregates (grand
    # total / affordable level) ride onto the ≤ |strata|-row totals
    # frame — every nested-loop side is register-sized by
    # construction; the corpus was reduced by ONE map-side-combined
    # aggregate before the allocator runs.
    "token_waterfill",
    # last-touch attribution (registered r14): the one-ROW conversion
    # total rides onto the ≤ |types|-row report frame for the
    # share_milli — the funnel_steps scalar-subquery shape; the
    # attribution itself is one user-partitioned window + one hash
    # aggregate.
    "attribution_last_touch",
    # triangle census (registered r14): the one-ROW census aggregates
    # (n_edges, n_triangles) are assembled onto the one-ROW
    # (n_nodes, n_wedges) frame by broadcast cross-join — every
    # nested-loop side is a SINGLE-ROW aggregate by construction; the
    # wedge/closure work is hash joins on the oriented edge list.
    "graph_triangles",
    # Q22 shape: the global (sum_cents, n) one-ROW aggregate is
    # cross-joined onto customer as a broadcast literal — the scalar
    # subquery pattern the allowlist exists for.
    "idle_rich_customers",
    # same scalar-subquery pattern: the one-ROW corpus doc count rides
    # to the (doc, term) tf table as a broadcast literal.
    "term_relevance_topk",
    # same: the one-ROW (N, Σdl) corpus stats ride onto the
    # (doc, query-term) tf table — ∝ matches, never corpus tokens.
    "bm25_search",
    # same: the one-ROW (Na, Nb) slice totals ride onto the
    # vocabulary-sized term table.
    "vocab_drift",
    # same scalar-subquery pattern: the one-ROW corpus token total
    # broadcasts onto the (doc, token) occurrence table.
    "doc_surprisal",
    # same: the one-ROW LM token total rides onto the (doc, w1, w2)
    # bigram table for the unigram-backoff bits.
    "surprisal_bigram",
    # same: the one-ROW corpus bigram total rides onto the scored
    # pair table for the PMI ratio.
    "collocations_topk",
    # same: the one-ROW min stratum size rides onto the strata-sized
    # threshold frame; the corpus itself joins by broadcast hash.
    "temperature_mix",
    # KMV overlap: the final row is assembled by cross-joining four
    # SINGLE-ROW aggregates (jaccard, two distinct estimates) — every
    # input frame is ≤ k=256 rows by construction.
    "vocab_overlap_kmv",
    # Q11 shape: the one-ROW national stock total is cross-joined onto
    # the per-part aggregate as a broadcast literal (scalar subquery).
    "important_part_stock",
    # cumulative HLL merge: the day-dimension (≤366 rows) rides the
    # REGISTER table (≤ days·m rows) through an inequality join — both
    # sides are register-space, bounded by construction regardless of
    # data volume; the raw events never enter this join.
    "rolling_distinct_hll",
    # basket pair mining (registered r15): the one-ROW kept-basket
    # count rides onto the ≤ k-row TOP frame for support_ppm /
    # lift_milli — the funnel_steps scalar-subquery shape; the pair
    # enumeration itself is a basket-keyed equi hash join bounded at
    # C(|basket|, 2) per basket under the max_basket cap.
    "basket_pairs",
}

# Queries allowed ONE unpartitioned window over an input that is
# bounded BY CONSTRUCTION (a groupBy whose key domain is an explicit
# small knob), so "one task sorts the whole input" is ≤ that bound,
# not the corpus.  Anything data-sized must still fail the lint.
_GLOBAL_WINDOW_OK = {
    # running-sum over the per-shard COUNTS (≤ `shards` rows, default
    # 1024) that converts shard ranks into contiguous global positions
    # — the distributed-enumerate offset table, not a data sort.
    "global_shuffle",
    # same offset-table shape over per-shard TOKEN SUMS (≤ `shards`
    # rows) — the exact global token-budget prefix, not a data sort.
    "token_budget_select",
    # running-sum + total over the HISTOGRAM REGISTER table (≤ `bins`
    # rows, default 1000) — quantile estimation over a sketch, not a
    # data sort.
    "value_quantiles_hist",
    # same offset-table shape as global_shuffle/token_budget_select,
    # over per-shard WEIGHT SUMS (≤ `shards` rows, default 1024) —
    # the systematic-sampling offsets + grand total, not a data sort
    # (registered r12; the data-sized prefix sums run under the
    # shard-PARTITIONED window).
    "sample_weighted",
    # running-sum over the COUNT-OF-COUNTS table (one row per distinct
    # occurrence count — ≤ O(√corpus_tokens) rows by the pigeonhole
    # bound Σn·cnt ≥ m(m+1)/2, ~5M tiny rows at 100 TB) — the
    # coverage-curve cumulative, not a data or vocabulary sort
    # (registered r12; the word-count exchange itself is hash-
    # partitioned and the vocabulary is never ranked).
    "vocab_coverage",
    # the ONE rank window sorts the ≤ topn-row (default 20) BM25
    # result — a LIMIT feeds it, bounded by construction; the cosine
    # arm is TakeOrdered and the fusion touches ≤ 2·topn rows
    # (registered r13; plan-pinned in test_retrieval.py's
    # test_hybrid_rrf_plan_is_bounded).
    "hybrid_rrf",
    # the ONE rank window sorts the ≤ k-row (default 10) path-count
    # result — a LIMIT (TakeOrdered) feeds it, bounded by
    # construction; the per-user lead windows are user-partitioned
    # (registered r14).
    "path_topk",
    # rank/prefix windows over the ≤ |strata|-row per-group TOTALS
    # frame (the group column's domain — 5 languages here), the same
    # bounded-offsets envelope as sample_weighted's shard table; the
    # corpus itself is reduced by ONE map-side-combined aggregate
    # before any window (registered r13).
    "token_waterfill",
    # the ONE rank window sorts the ≤ k-row (15 here) pair-count
    # result — a LIMIT (orderBy+limit over the aggregated pair
    # frame) feeds it, bounded by construction; the pair join and
    # count exchange are hash-partitioned (registered r15; the
    # path_topk envelope).
    "basket_pairs",
}


def test_lowcard_rank_lint_catches_naive_window(spark):
    """The lint itself must fire on the pre-round-5 shape (single rank
    window over pred_lang) and stay quiet on the salted two-phase plan
    — otherwise the sweep below proves nothing."""
    from pyspark.sql import Window

    from kafkadirect_spark.functions import curation
    # pred_lang must be data-derived: a literal would be constant-folded
    # out of the partition spec entirely (making it an UNpartitioned
    # window, the other lint's territory)
    df = load_table(spark, SF, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, "en")
         .otherwise("unknown").alias("pred_lang"),
        F.length("text").cast("long").alias("sz"))
    naive = (df.withColumn(
        "rank", F.row_number().over(
            Window.partitionBy("pred_lang")
            .orderBy(F.col("sz").desc(), F.col("doc_id"))))
        .filter(F.col("rank") <= 5))
    assert _lowcard_rank_windows(naive), "lint missed the naive window"
    salted = curation.topk_per_group(
        df, "pred_lang", "sz", k=5, tiebreak_col="doc_id")
    assert not _lowcard_rank_windows(salted), "lint flagged the salted plan"


# Built-once cache of every registered query's DataFrame at sf0.001 —
# shared by the plan-lint sweep and the scalar-schema walk so queries
# with construction-time work (PQ training collects, histogram
# narrowing) run once, not once per sweep.
_QUERY_DFS: dict = {}


def _query_df(spark, name):
    from kafkadirect_spark.plans import QUERIES
    if name not in _QUERY_DFS:
        _QUERY_DFS[name] = QUERIES[name](spark, SF)
    return _QUERY_DFS[name]


def test_registered_queries_emit_scalar_columns(spark):
    """The driver's correctness gate canonicalizes each query's result
    with a pandas sort over all columns, which raises on unhashable
    cells — so a registered query emitting a top-level Array/Map/Struct
    column crashes the gate (exactly how embedding_pq_codes failed its
    r8 driver row).  The rule lived only in a docstring
    (plans/llm_queries.py embedding_quantize) until that crash; this
    schema walk enforces it for every registered query.  Library
    functions may return arrays — the registered SURFACE flattens them
    (scalar projections or the md5-over-canonical-CSV pattern)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from kafkadirect_spark.plans import QUERIES
    offenders = {}
    for name in QUERIES:
        bad = [f.name for f in _query_df(spark, name).schema.fields
               if isinstance(f.dataType, (ArrayType, MapType, StructType))]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"registered queries emit non-scalar top-level columns (the "
        f"driver gate cannot hash these): {offenders}")


def test_registered_query_plan_lints(spark):
    """One pass over every registered query's optimized/physical plan,
    asserting the three 100 TB killers are absent:

    - unpartitioned window functions (single-reducer global sort —
      the exact defect ts_policy_previous had in round 3);
    - CartesianProduct anywhere;
    - BroadcastNestedLoopJoin outside the declared allowlist (an
      accidental non-equi join shape; allowed only where broadcasting
      a literal constant table is the design).
    """
    from kafkadirect_spark.plans import QUERIES
    offenders = {}
    for name in QUERIES:
        df = _query_df(spark, name)
        problems = ([] if name in _GLOBAL_WINDOW_OK else
                    [f"unpartitioned window: {w}"
                     for w in _unpartitioned_windows(df)])
        problems += [f"low-cardinality rank window: {w}"
                     for w in _lowcard_rank_windows(df)]
        phys = _formatted(df)
        if "CartesianProduct" in phys:
            problems.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in phys and name not in _BNLJ_OK:
            problems.append("BroadcastNestedLoopJoin")
        if problems:
            offenders[name] = problems
    assert not offenders, offenders


def test_topk_is_distributed_not_global_sort(spark):
    """shipping_priority's top 10 must compile to
    TakeOrderedAndProject (per-partition heaps merged over k rows),
    never a full Sort + Limit — a global sort of the join result is
    the 100 TB version of ORDER BY death."""
    from kafkadirect_spark.plans import QUERIES
    txt = _formatted(QUERIES["shipping_priority"](spark, SF))
    assert "TakeOrderedAndProject" in txt
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", txt)) == 2, txt[:1500]


def test_multiway_dim_chain_broadcasts_both_dims(spark):
    """supplier_nation_volume: the fact stream must reach the agg
    through two broadcast joins (supplier under the threshold, nation
    explicitly Global) — no sort-merge on a dimension, no cartesian."""
    from kafkadirect_spark.plans import QUERIES
    df = QUERIES["supplier_nation_volume"](spark, SF)
    txt = _formatted(df)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", txt)) == 2, txt[:2000]
    assert "SortMergeJoin" not in txt
    assert "CartesianProduct" not in txt


def test_forecast_revenue_pushes_filters_to_scan(spark):
    """Q6 shape is the pushdown litmus test: all three predicates must
    reach the parquet scan as PushedFilters and the read schema must
    be the four referenced columns, not the whole fact row."""
    from kafkadirect_spark.plans import QUERIES
    txt = _formatted(QUERIES["forecast_revenue"](spark, SF))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", txt)
    assert pushed and "l_shipdate" in pushed.group(1) \
        and "l_discount" in pushed.group(1) \
        and "l_quantity" in pushed.group(1), txt[:1500]
    schema = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert schema and set(
        c.split(":")[0] for c in schema.group(1).split(",")) == {
            "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"
        }, schema and schema.group(1)


def test_local_supplier_volume_broadcasts_all_dims(spark):
    """Q5 shape: four broadcast dimension joins around ONE fact-fact
    hash join — never a sort-merge on a dimension."""
    from kafkadirect_spark.plans import QUERIES
    txt = _formatted(QUERIES["local_supplier_volume"](spark, SF))
    # ≥4: the four dims always broadcast; at tiny SF Catalyst may
    # additionally broadcast the filtered orders side of the fact join
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", txt)) >= 4, txt[:2000]
    assert "CartesianProduct" not in txt


def test_large_order_customers_distributed_topk(spark):
    """Q18 shape: the HAVING aggregate shrinks the fact before any
    join, and the top-100 compiles to TakeOrderedAndProject."""
    from kafkadirect_spark.plans import QUERIES
    txt = _formatted(QUERIES["large_order_customers"](spark, SF))
    assert "TakeOrderedAndProject" in txt
    assert "rangepartitioning" not in txt.lower()


def test_bucketed_join_skips_exchange(spark):
    """`through_bucketed` is the durable repartition topic: two tables
    bucketed the same way join with NO Exchange on either side — the
    shuffle was paid once at write time.  The unbucketed control plan
    must show Exchanges, or this test proves nothing."""
    from kafkadirect_spark.core import Stream

    ev = load_table(spark, SF, "events").select("user_id", "value")
    cust = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name")
    spark.sql("DROP TABLE IF EXISTS bt_events")
    spark.sql("DROP TABLE IF EXISTS bt_cust")
    try:
        b_ev = Stream(ev, key="user_id").through_bucketed("bt_events", 4)
        b_cu = Stream(cust, key="user_id").through_bucketed("bt_cust", 4)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bucketed = _formatted(b_ev.df.join(b_cu.df, "user_id"))
            control = _formatted(ev.join(cust, "user_id"))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "Exchange" not in bucketed, bucketed[:1500]
        assert "Exchange" in control
        # rows survive the round-trip
        assert b_ev.df.count() == ev.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_events")
        spark.sql("DROP TABLE IF EXISTS bt_cust")


def test_bucketed_groupby_skips_exchange(spark):
    """Aggregations keyed on the bucket column also reuse the write-
    time partitioning — not just joins."""
    from kafkadirect_spark.core import Stream

    ev = load_table(spark, SF, "events").select("user_id", "value")
    spark.sql("DROP TABLE IF EXISTS bt_ev_agg")
    try:
        b = Stream(ev, key="user_id").through_bucketed("bt_ev_agg", 4)
        agg = b.df.groupBy("user_id").count()
        assert "Exchange" not in _formatted(agg)
        assert agg.count() == ev.select("user_id").distinct().count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_ev_agg")


def test_window_order_is_stalest_first(tmp_path):
    """The external correctness gate checks only ``list(QUERIES)[:50]``,
    so the registry order is computed from the CORRECTNESS_r*.json
    artifacts: never-verified queries first, then the oldest newest
    row, ties in registration order."""
    import glob
    import json
    import os

    from kafkadirect_spark.plans import ORACLE_SQL, QUERIES, stalest_first

    names = ["zeta", "alpha", "mid", "old", "new"]
    assert stalest_first(names, str(tmp_path)) == names  # no artifacts
    for rnd, rows in ((2, ["old", "zeta", "ghost"]), (5, ["mid"]),
                      (7, ["zeta", "alpha"])):
        # any row counts, passing or not; unregistered "ghost" is ignored
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(
            {q: {"rows_match": False} for q in rows}))
    assert stalest_first(names, str(tmp_path)) == [
        "new", "old", "mid", "zeta", "alpha"]

    # the live registry: QUERIES and ORACLE_SQL share the order, and no
    # query outside the window has older evidence than one inside it
    assert list(ORACLE_SQL) == [q for q in QUERIES if q in ORACLE_SQL]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for q in json.load(fh):
                newest[q] = max(newest.get(q, 0), rnd)
    window = list(QUERIES)[:50]
    rest = list(QUERIES)[50:]
    assert max(newest.get(q, -1) for q in window) <= min(
        newest.get(q, -1) for q in rest)


def test_simhash_oracle_shared_text():
    """dedup_edit_verified's oracle composes the simhash query's own
    oracle SQL as its candidate CTE (r12).  Pin that (a) the
    registered simhash oracle IS the shared _SIMHASH_PAIRS_ORACLE
    variable, and (b) the composed oracle embeds that exact text —
    so the two registered replays can never drift apart."""
    from kafkadirect_spark.plans import ORACLE_SQL
    from kafkadirect_spark.plans.llm_queries import _SIMHASH_PAIRS_ORACLE

    assert ORACLE_SQL["dedup_simhash_pairs"] == _SIMHASH_PAIRS_ORACLE
    assert _SIMHASH_PAIRS_ORACLE in ORACLE_SQL["dedup_edit_verified"]
