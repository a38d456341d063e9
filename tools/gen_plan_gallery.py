#!/usr/bin/env python
"""Generate docs/PLANS.md — formatted physical plans for representative
queries, the evidence artifact behind the plan-discipline claims (filters
reach the scan, dims broadcast, no cartesian products, top-k avoids global
sorts, iterative loops stay range/hash-partitioned).

Run: ``python tools/gen_plan_gallery.py`` (starts a local SparkSession,
plans at sf0.001 — plan SHAPE is scale-invariant, which is the point).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# (query, what the plan demonstrates)
GALLERY = [
    ("filter_predicate",
     "predicate pushdown: `PushedFilters` on the parquet scan carries the "
     "quantity/returnflag predicates; `ReadSchema` prunes to used columns"),
    ("join_star",
     "star join: every dimension side is a `BroadcastHashJoin` build — the "
     "fact table never shuffles for the joins"),
    ("multi_join_topn",
     "top-n after joins plans `TakeOrderedAndProject` (per-partition heaps "
     "+ driver merge), not Sort+Limit"),
    ("join_bloom_prefilter",
     "Bloom gate: the k word probes are `BroadcastHashJoin`s on the fact "
     "side — zero fact shuffles before the exact semi-join"),
    ("dedup_minhash_lsh",
     "LSH candidates, built once per session and checkpointed, so the "
     "query scans the checkpoint: the build drops oversized buckets by a "
     "per-bucket row count (`Window`), then ONE `ObjectHashAggregate` "
     "collects each (band, bucket-hash) bucket's ids on the same exchange "
     "and a double `explode` pairs them — one MinHash signature aggregate, "
     "no join, no `CartesianProduct`/`BroadcastNestedLoopJoin` anywhere"),
    ("agg_hash",
     "aggregation: `partial_` functions before the exchange (map-side "
     "combine), final aggregate after"),
    ("agg_equidepth_histogram",
     "distributed exact NTILE: `Exchange rangepartitioning` + per-partition "
     "window keyed by partition id — no single-partition sort collapse"),
    ("window_trailing_days",
     "time-interval frame: ONE `Exchange hashpartitioning` on the series "
     "key; frame evaluation is a per-partition ordered scan"),
    ("join_asof",
     "as-of join: union + ordered `last` carry window — a single "
     "hash-partition exchange, no range-join row explosion"),
    ("scan_partition_dpp",
     "dynamic partition pruning: `dynamicpruningexpression` on the "
     "partitioned scan, driven by the dimension filter"),
    ("revenue_delta_forecast",
     "Q6 shape: single pushed-down scan feeding a two-phase scalar "
     "aggregate — one exchange total, no join"),
    ("quality_gopher_rules",
     "per-row quality gate: higher-order array functions only — zero "
     "exchanges, zero Python nodes, pure codegen projection"),
    ("dedup_segments",
     "segment-level dedup: one segment-keyed hash equi-join with partial "
     "aggregation — linear, never a cartesian"),
    ("dedup_incremental",
     "incremental near-dedup: the new batch's band rows equi-join the "
     "corpus LSH index; base-side verification scan is semi-join-"
     "restricted to candidates — the corpus is never re-signatured"),
    ("quality_audit_columns_approx",
     "HLL column audit: approx_count_distinct per column — one ordinary "
     "partial/final aggregate, NO Expand row multiplication"),
    ("similarity_index_cells_kmeans",
     "distributed k-means (r04): the Lloyd refinement's windows are all "
     "bounded (seed sample behind a TakeOrdered limit), assignment is a "
     "broadcast of the centroid table — the corpus side never shuffles "
     "for the fit, and no single-partition global-window Exchange "
     "appears (the suite-wide sweep enforces this everywhere)"),
    ("similarity_topk_pq",
     "PQ ADC search: codes explode against a BROADCAST per-query lookup "
     "table (BroadcastHashJoin) with partial aggregation rebuilding the "
     "dots — the scan touches 4-byte codes, never the vectors, and no "
     "cartesian appears"),
    ("sketch_countmin_heavyhitters",
     "count-min sketch (r04): the build is explode + `partial_count` hash "
     "aggregate — the exchange carries at most depth·width counter rows "
     "per map partition; the probe reads the sketch via a "
     "`BroadcastHashJoin` on (row, slot)"),
    ("search_bm25_topk",
     "BM25 retrieval (r04): query terms probe the postings via "
     "`BroadcastHashJoin`s; the per-query top-k plans `WindowGroupLimit "
     "… Partial` BEFORE the exchange — map-side top-k per query, no "
     "global sort"),
    ("sketch_misra_gries_heavyhitters",
     "Misra-Gries (r04): one `MapInPandas` pass emits ≤k summary rows per "
     "partition, merged by a bounded hash aggregate and trimmed to ≤k rows "
     "total (1-row broadcast stats) — no corpus-sized exchange anywhere; "
     "the bound check joins a 1-row broadcast total"),
    ("dedup_sorted_neighborhood",
     "sorted-neighborhood (r06 bounded key): the global rank's "
     "`Exchange rangepartitioning` carries a ≤64-char substring key + id "
     "— never the document text — and candidate generation is a narrow "
     "rank-shift `SortMergeJoin` on integers; the only text-bearing "
     "exchange left is the Jaccard verification's candidate-driven join"),
    ("quality_quarantine_split",
     "quarantine routing (r06): ONE linear scan computes the gate and "
     "the hive-partitioned sink write is the only exchange; the read-back "
     "aggregate scans the written files with `PartitionFilters` available "
     "to any downstream gate consumer"),
    ("similarity_append_retrain_loop",
     "append→drift→retrain control loop (r06): both candidate indexes "
     "are id/cell rows; the 1-row drift frame arrives by "
     "`BroadcastNestedLoopJoin` (1-row build side — constant, NOT a "
     "cartesian) and the decision filter selects the shipped index "
     "inside the same stage; exact recall probes are bounded "
     "query-side broadcasts"),
    ("er_resolve_golden",
     "Fellegi-Sunter record linkage resolved to golden records (r08): "
     "the nation-blocked pair join re-plans lazily, pairs reach their "
     "match decision through a `BroadcastHashJoin ... LeftSemi` against "
     "the <= 8 scored pattern rows (the deep decimal posterior runs 8 "
     "times, never per pair), and the golden rollup is one hash "
     "aggregate + broadcast dimension joins"),
    ("dataset_importance_resample",
     "DSIR selection (r08): the hashed-bigram LM is a 64-row "
     "`BroadcastHashJoin` build side; corpus totals fold from those 64 "
     "rows via a 1-row `BroadcastNestedLoopJoin` (constant, not a "
     "cartesian); selection is `TakeOrderedAndProject` - no global "
     "sort, no global window"),
    ("dedup_cdc_chunks",
     "content-defined chunking (r08): boundary detection is one "
     "`ArrowEvalPython` (vectorized numpy correlation) inside the scan "
     "stage; the cross-doc sharing check is a chunk-keyed aggregate "
     "plus a left join - only chunks shuffle, never text positions"),
    ("layout_skipping_report",
     "data-skipping report (r08): three `repartitionByRange` exchanges "
     "(the distributed global rank - per-partition row_number windows "
     "partitioned BY spark_partition_id, never a single-partition "
     "global window) feed min/max per simulated file and a 6-row "
     "prune-count rollup"),
]


def main() -> None:
    from datacooker_dist_spark.session import build_session
    from datacooker_dist_spark.suite import QUERIES

    spark = build_session(app_name="plan-gallery", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    out = [
        "# Plan gallery (generated — do not edit)",
        "",
        "`python tools/gen_plan_gallery.py` · formatted physical plans at "
        "sf0.001 (plan SHAPE is scale-invariant; `tests/test_plans.py` "
        "enforces these properties in CI).",
        "",
    ]
    for name, note in GALLERY:
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().explainString(mode)
        # Keep the node tree + the scan details; drop the long field lists.
        head, _, details = plan.partition("\n\n")
        evidence = [
            line.strip()
            for line in details.splitlines()
            if any(
                k in line
                for k in ("PushedFilters: [", "ReadSchema", "PartitionFilters",
                          "dynamicpruning")
            )
            and len(line) < 300
        ]
        out.append(f"## `{name}`")
        out.append("")
        out.append(note + ".")
        out.append("")
        out.append("```")
        out.append(head.strip())
        if evidence:
            out.append("--- scan evidence ---")
            out.extend(dict.fromkeys(evidence))  # dedup, keep order
        out.append("```")
        out.append("")
    spark.stop()

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "PLANS.md",
    )
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}: {len(GALLERY)} plans")


if __name__ == "__main__":
    main()
