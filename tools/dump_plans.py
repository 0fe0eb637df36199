"""Regenerate PLANS.md: the formatted physical plans of the headline
queries at sf0.1, annotated with what to look for — pushdown, pruning,
broadcast, codegen spans, absence of cartesian products.

Usage:  python tools/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINERS = {
    "pricing_summary": "filter + projection pushdown into the scan; "
                       "two-phase hash aggregate (map-side partials)",
    "yahoo_pipeline": "dim side broadcast (no stream-side shuffle before "
                      "the windowed agg); window + key hash aggregate",
    "join_stream_table": "BroadcastHashJoin on the dimension",
    "join_interval_inner": "equi-key join with the time band as a post-join "
                           "filter — never a cartesian product",
    "join_table_table": "two last-wins snapshots (max_by, one shuffle each) "
                        "then a key join",
    "scan_from_timestamp": "time-travel bound pushed onto the raw nanos "
                           "column (row-group pruning)",
    "dedup_minhash_lsh": "row-local signature folds (no explode, no "
                         "per-doc shuffle) → band-bucket self-join; the "
                         "only data shuffle AT SCALE is keyed on (band, "
                         "sig) — a narrow (few-file) scan like this dump's "
                         "adds one widen round-robin before the folds",
    "similarity_ann_ivf": "centroids broadcast (BroadcastNestedLoopJoin); "
                          "ONE persisted scoring pass feeds assignment and "
                          "probes (InMemoryTableScan ×2); no cartesian",
    "dedup_clusters": "label-propagation result is a checkpointed scan — "
                      "plan depth constant in rounds; left join back onto "
                      "documents for singleton clusters",
    "decontaminate_bloom": "fixed-size Bloom bit set broadcast "
                           "(BroadcastHashJoin) — the TB-scale train "
                           "side never shuffles for the join",
    "pack_sequences": "exactly one Exchange (hash by shard); partition-local "
                      "sort under the window, no range partitioning",
    "supplier_nation_volume": "two BroadcastHashJoins on the dimension chain "
                              "(no sort-merge on a dim); hash agg with "
                              "map-side partials",
    "shipping_priority": "top-k via TakeOrderedAndProject (per-partition "
                         "heaps, never a global sort); two "
                         "BroadcastHashJoins",
    "asof_enrich": "union + ONE hash exchange on the key; partitioned "
                   "window (running last) — no row amplification, no "
                   "range join explosion",
    "heavy_hitters_cms": "CMS registers (d·w bounded hash-agg) broadcast "
                         "to the probe side; exact top-20 via "
                         "TakeOrderedAndProject",
    "kmeans_clusters": "assignment is one broadcast int64-matmul "
                       "MapInPandas stage (zero joins); the k·dim update "
                       "aggregate is the only exchange per iteration",
    "global_shuffle": "shard-partitioned rank windows + broadcast offset "
                      "table — NO range partitioning, no single-reducer "
                      "sort",
    "importance_weights": "bounded DSIR bucket space: frequency table "
                          "broadcast (BroadcastHashJoin); exploded pairs "
                          "shuffle only for the final per-doc agg",
    "event_funnel": "three min-aggregations chained by user-keyed "
                    "hash joins; no window over event history",
    "range_bucket_join": "interval bucket explode + shuffled equi-join "
                         "on the bucket id with exact containment "
                         "re-check — NO BroadcastNestedLoopJoin, no "
                         "cartesian (both sides may be fact-sized)",
    "semdedup_prune": "zero-shuffle broadcast-matmul assignment, then "
                      "ONE shuffle groups clusters for the Arrow/BLAS "
                      "applyInPandas Gram pass — no pair self-join, no "
                      "per-pair expression dots",
    "rolling_distinct_hll": "per-day register sketches (grouped partial "
                            "min) → days-dim inequality join in "
                            "REGISTER space (the one allowlisted BNLJ) "
                            "→ per-as-of estimate; raw events scanned "
                            "once",
    "value_outliers_mad": "two grouped histogram-narrowing selection "
                          "passes, each broadcast-joined back — data "
                          "scanned, never reshuffled; no float stats",
    "scd2_asof_snapshot": "struct-max last-wins hash aggregate with "
                          "map-side partials — no sort, no window; "
                          "as-of bound pushed to the scan",
    "dedup_jaccard_prefix": "df-ascending prefix explode → equi-join "
                            "on prefix shingles only (hot grams sort "
                            "last, never enter prefixes) → length "
                            "filter → row-local array_intersect "
                            "verify; lossless, no doc-freq cap",
    "zorder_events": "pure bit-arithmetic projection (quantize cells "
                     "+ Morton interleave) fused into the scan — "
                     "zero shuffles; the layout write adds one range "
                     "exchange",
    "quality_gopher": "word-level signals fused into the scan; each "
                      "n-gram repetition path is explode → map-side-"
                      "combined (doc, gram) agg → per-doc agg, "
                      "rejoined on the high-cardinality doc id",
    "surprisal_bigram": "distinct-bigram collapse before any join; LM "
                        "bigram/prefix tables are ordinary hash joins "
                        "(AQE broadcasts when they fit); the 1-row "
                        "token total is the only BNLJ (allowlisted "
                        "scalar-subquery shape)",
    "token_budget_select": "shard-partitioned cumulative windows + "
                           "broadcast ≤shards-row offset table — the "
                           "exact global prefix sum with NO range "
                           "partitioning and no single-reducer sort",
    "embedding_pq_codes": "codebook training collects only m·k·sub "
                          "register rows per iteration; the codes "
                          "come from one broadcast int64-matmul "
                          "Arrow pass — zero joins",
    "bm25_search": "query-term filter BEFORE the explode (the "
                   "(doc, term) exchange is ∝ matches, never corpus "
                   "tokens); one-row corpus stats broadcast "
                   "(allowlisted scalar-subquery BNLJ); TakeOrdered "
                   "top-k",
    "vocab_drift": "slice filter pushed to the parquet scan; one "
                   "vocabulary-keyed exchange with map-side partial "
                   "sums; broadcast totals; TakeOrdered",
    "events_skew_report": "one per-key count exchange; stats/"
                          "quantiles collected register-sized; "
                          "heavy keys via TakeOrdered",
    "value_decile_by_type": "per-group cut lists broadcast "
                            "(BroadcastHashJoin on the group key); "
                            "row-local bucket assignment; one "
                            "report aggregate — the data is never "
                            "shuffled on value",
    "dedup_containment_anti": "capped shingle inverted-index "
                              "intersection (the containment_pairs "
                              "plan) feeding ONE LeftAnti hash "
                              "join on the doc id — the survivors "
                              "set without a second corpus pass",
    "nb_langid": "one exploded train exchange collapsed map-side to "
                 "(class, token, count) and pivoted vocab-wide; "
                 "scoring joins collapsed occurrences against it "
                 "once (broadcast at this SF) then one doc "
                 "aggregate — per-class bits are column "
                 "expressions, never a class-way row explosion",
    "value_drift_by_slice": "one map-side-combined register exchange "
                            "per slice (≤bins rows out), bins-sized "
                            "full-outer join, row-local decimal "
                            "cross-multiplication — nothing "
                            "data-sized moves after the two scans",
    "cdc_dup_stats": "chunking is staged row-local array projections "
                     "(no exchange); ONE map-side-combined "
                     "groupBy(chunk_hash), a chunk-sized hash join "
                     "back, one groupBy(doc) — no window functions, "
                     "no cartesian",
    "sax_pairs": "one map-side-combined groupBy(user, segment) — the "
                 "only corpus-scale exchange; breakpoint narrowing is "
                 "register-sized collects; word-bucketed hash "
                 "self-join (never CartesianProduct / "
                 "BroadcastNestedLoopJoin), dist2 row-local",
    "windowed_chunks": "zero Exchange / Window / Join — pure "
                       "sequence-transform + explode amplification "
                       "(the window count a training run consumes)",
    "tokenizer_eval": "bounded type-table EM rounds + one stateless "
                      "MapInPandas encode pass; ONE equi-join of "
                      "encode onto (doc, slice, counts) and one "
                      "map-side-combined final aggregate",
    "similarity_ivf_pq": "broadcast centroid assignment (the "
                         "allowlisted bounded BNLJ), ONE candidate "
                         "hash join on list id, row-local ADC (one "
                         "flat literal array read with element_at), "
                         "one per-probe top-n window — no "
                         "whole-index scan at query time",
    "sax_nearest": "the sax_pairs plan + a candidate-sized "
                   "symmetrize union and the salted two-phase "
                   "per-group top-k — no single-task per-user sort",
    "dedup_edit_verified": "banded simhash candidates; verification "
                           "is two candidate-sized hash joins + "
                           "row-local Levenshtein (max_chars caps "
                           "the O(n*m) cell work)",
    "vocab_coverage": "join-free: one word-count exchange, the "
                      "bounded count-of-counts cumulative "
                      "(allowlisted <=O(sqrt tokens) window), ks as "
                      "a literal-array filter",
    "sample_weighted": "per-shard PARTITIONED prefix sums; the "
                       "<=shards-row offset window (allowlisted) + "
                       "one bounded broadcast — no global data sort",
    "wordpiece_eval": "scored-merge training on the bounded type "
                      "table + one stateless MapInPandas "
                      "longest-match encode; one equi-join + one "
                      "map-side-combined aggregate",
}


def _mask_ids(plan: str) -> str:
    """Exchange plan ids and expression ids (``vec_id#1687L``) count
    every plan and expression the session built before, so one changed
    plan would renumber every later one.  Mask the plan ids and
    renumber the expression ids per plan in first-seen order, so a
    regeneration of unchanged plans is byte-identical."""
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    ids: dict[str, int] = {}
    return re.sub(r"(?<!#)#(\d+)",
                  lambda m: f"#{ids.setdefault(m[1], len(ids) + 1)}", plan)


def main() -> None:
    from kafkadirect_spark.plans import QUERIES
    from kafkadirect_spark.session import get_spark

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    out = ["# PLANS — headline physical plans at sf0.1",
           "",
           "Generated by `python tools/dump_plans.py`. What to check per",
           "plan is noted above it; regenerate after plan-affecting changes.",
           ""]
    from kafkadirect_spark.testing import explain_formatted

    for name, note in HEADLINERS.items():
        df = QUERIES[name](spark, sf)
        plan = _mask_ids(explain_formatted(df))
        out += [f"## {name}", "", f"*Check:* {note}", "", "```",
                plan.rstrip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
