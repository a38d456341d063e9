"""Scale-pattern tests: bucketed co-located joins (no shuffle), salted skew
joins (correctness under replication), broadcast thresholds — the plan
shapes that decide whether an operator survives 100 TB."""

from __future__ import annotations

import sys
import threading
import time
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL
from datacooker_dist_spark.operators.relational import salted_join
from datacooker_dist_spark.suite import memo, scoped_conf


def test_salted_join_matches_plain_join(spark):
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    plain = orders.join(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
    )
    salted = salted_join(
        orders, cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey",
        salt_buckets=8,
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_hot_key(spark):
    """With broadcast and AQE skew-split pinned off, the plain join puts the
    whole hot key on one reducer; salting spreads it. (The key must be
    data-dependent — a literal key constant-folds into a cartesian filter
    and never shuffles at all.)"""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(0, 100000).select(
            F.when(F.col("id") % 100 < 99, 1).otherwise(F.col("id")).alias("k"),
            F.col("id"),
        )
        dim = hot.select("k").distinct().withColumn("v", F.lit("x"))

        def max_task_rows(df):
            dist = df.withColumn("p", F.spark_partition_id()).groupBy("p").count()
            return max(r["count"] for r in dist.collect())

        plain_max = max_task_rows(hot.join(dim, "k"))
        salted_max = max_task_rows(salted_join(hot, dim, "k", salt_buckets=8))
        assert plain_max >= 99000  # whole hot key on one reducer
        assert salted_max < plain_max * 0.75
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_partitioned_write_prunes_scan(spark, tmp_path):
    """partition_by on the parquet sink yields hive-style dirs; a filter on
    the partition column shows up as PartitionFilters (directory pruning),
    not a data filter — whole partitions are skipped unread."""
    from datacooker_dist_spark.model import DataStream, StreamType
    from datacooker_dist_spark.registry import resolve_output

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumn(
        "o_status", F.col("o_orderstatus")
    )
    p = str(tmp_path / "orders_part")
    resolve_output("hadoopParquet")().configure(
        {"partition_by": ["o_status"]}
    ).initialize(spark, p).save("t", DataStream("t", orders, StreamType.COLUMNAR))
    import os

    assert any(d.startswith("o_status=") for d in os.listdir(p))
    back = spark.read.parquet(p).filter(F.col("o_status") == "F")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = back._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters: [isnotnull(o_status" in plan
    assert back.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketed+sorted tables joined on the bucket key produce a
    SortMergeJoin with NO Exchange — the co-located join that makes
    repeated fact↔fact joins viable at 100 TB (shuffle paid once at write
    time, amortized over every subsequent join)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        for name, df, key in [
            ("b_orders", orders, "o_orderkey"),
            ("b_lineitem", li, "l_orderkey"),
        ]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.format("parquet")
                .bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(name)
            )
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey).select(
            "l_orderkey", "o_totalprice", "l_quantity"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:500]}"
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_dynamic_partition_pruning(spark, tmp_path):
    """A filter on the dim side of a join against a partitioned fact must
    inject a dynamic-pruning subquery into the fact scan — at 100 TB this
    is the difference between scanning one partition directory and all of
    them (static pruning can't see through the join)."""
    fact = f"{tmp_path}/lineitem_by_flag"
    spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").write.partitionBy(
        "l_returnflag"
    ).parquet(fact)
    dim = spark.createDataFrame(
        [("A", "accepted"), ("N", "new"), ("R", "returned")],
        "flag string, label string",
    )
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    joined = (
        spark.read.parquet(fact)
        .join(dim.filter(F.col("label") == "returned"),
              F.col("l_returnflag") == F.col("flag"))
        .select("l_orderkey", "l_quantity", "label")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert joined.count() > 0


def test_bloom_filter_runtime_join_filter(spark, tmp_path):
    """With a selective dim filter and a large un-partitioned fact, AQE's
    runtime bloom filter should be injected on the fact side — row-level
    pre-join filtering that cuts shuffle volume when partition pruning
    can't apply. Thresholds lowered to fire at test scale."""
    for k, v in {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }.items():
        spark.conf.set(k, v)
    try:
        fact = f"{tmp_path}/lineitem_flat"
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").write.parquet(fact)
        dim = (
            spark.read.parquet(f"{SF_SMALL}/orders.parquet")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        joined = spark.read.parquet(fact).join(
            dim, F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")


def test_observe_metrics_in_flight(spark):
    """Data-quality counters via DataFrame.observe ride the SAME job as
    the real computation — no second pass over a 100 TB input to count
    nulls/violations. The observed metrics must equal a direct
    aggregation's answer."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    obs = Observation("quality")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("l_discount") > 0.1).cast("long")).alias("n_high_discount"),
    )
    result = observed.groupBy("l_returnflag").count()
    result.collect()  # one action: aggregate runs AND metrics populate
    direct = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_discount") > 0.1).cast("long")).alias("h"),
    ).collect()[0]
    assert obs.get["n_rows"] == direct["n"]
    assert obs.get["n_high_discount"] == direct["h"]


def test_connected_components_single_job_no_shuffle(spark):
    """Union-find filtering CC must stay one narrow-dependency plan:
    mapInPandas passes chained by coalesce, with NO Exchange — the whole
    point of the rewrite away from per-round join/checkpoint loops."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    out = connected_components(pairs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert "Coalesce" in plan or "mapInPandas" in plan.lower()
    got = {(r.id_a, r.cluster_id) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)}


def test_global_rank_broadcast_offsets_past_threshold(spark):
    """Past _OFFSET_CHAIN_MAX partitions, global_rank must plan the prefix
    offsets as a BroadcastHashJoin on _pid (not a 1024-branch WHEN chain)
    and produce the identical ranking (VERDICT r02 task 6)."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators.relational import global_rank

    df = spark.range(0, 20000).select(
        (F.col("id") * 7919 % 20011).alias("v"), F.col("id").alias("k")
    )
    wide = global_rank(df, ["v", "k"], num_partitions=1024)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    narrow = global_rank(df, ["v", "k"], num_partitions=32)
    nplan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in nplan
    a = sorted((r["v"], r["k"], r["_grank"]) for r in wide.collect())
    b = sorted((r["v"], r["k"], r["_grank"]) for r in narrow.collect())
    assert a == b


def test_global_prefix_sum_broadcast_offsets_past_threshold(spark):
    from decimal import Decimal

    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators.relational import global_prefix_sum

    df = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("x")
    )
    wide = global_prefix_sum(df, ["k"], "x", num_partitions=1024)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    narrow = global_prefix_sum(df, ["k"], "x", num_partitions=16)
    a = sorted((r["k"], r["_psum"]) for r in wide.collect())
    b = sorted((r["k"], r["_psum"]) for r in narrow.collect())
    assert a == b
    assert a[-1][1] == Decimal(sum(i % 97 for i in range(5000)))


def test_lsh_stop_bucket_cap_prunes_degenerate_bucket(planted_bucket_docs):
    """A planted degenerate bucket (many identical docs) must be dropped
    by max_bucket — bounding the bucket's pair fanout — while
    normal-sized dup groups keep their candidates, and the plan has no
    cartesian product."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators.dedup import minhash_lsh_candidates

    docs = planted_bucket_docs
    capped = minhash_lsh_candidates(docs, max_bucket=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(1000, 1001)}  # 100-doc stop-bucket gone, real pair kept
    uncapped = minhash_lsh_candidates(docs)
    assert uncapped.count() == 100 * 99 // 2 + 1
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_overwrite_touches_one_partition(spark, tmp_path):
    """The backfill write must replace ONLY the partitions present in the
    written data: other partitions' files stay byte-identical (same
    names), and the corrected partition's content changes."""
    import os

    from pyspark.sql import functions as F

    target = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i), "p1" if i % 2 else "p2") for i in range(100)],
        "k long, v double, p string",
    )
    df.write.mode("overwrite").partitionBy("p").parquet(target)

    def files(part):
        d = f"{target}/p={part}"
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    p1_before, p2_before = files("p1"), files("p2")
    corrected = df.filter("p = 'p1'").withColumn("v", F.col("v") + 1000.0)
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("p")
        .parquet(target)
    )
    assert files("p2") == p2_before  # untouched partition: same files
    assert files("p1") != p1_before  # backfilled partition: rewritten
    back = spark.read.parquet(target)
    assert back.filter("p = 'p2' AND v >= 1000").count() == 0
    assert back.filter("p = 'p1' AND v < 1000").count() == 0
    assert back.count() == 100


def test_aqe_skew_join_splits_hot_partition(spark):
    """The engine's default posture leans on AQE for runtime skew handling
    (salting is the explicit opt-in for joins AQE can't see) — pin that
    the escape hatch actually engages, AND the constraint that decides
    when manual salting is still required: OptimizeSkewedJoin only
    rewrites a sort-merge join whose children are both DIRECT shuffle
    stages. (a) An independent probe side → the finalized plan marks the
    join skew=true with an AQEShuffleRead skewed split of the hot
    partition. (b) A dim derived by an aggregate on the join key reuses
    the aggregate's output partitioning — no direct shuffle stage on that
    side, so AQE can NOT split the identical skew; that is precisely the
    shape where the engine's salted_join / stop-bucket caps are the scale
    path (iterative loops, self-joins over pre-aggregated candidates)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(0, 200000).select(
            F.when(F.col("id") % 100 < 99, 1).otherwise(F.col("id")).alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(0, 200000).select(
            F.col("id").alias("k"), F.lit("x").alias("v")
        )
        joined = hot.join(dim, "k")
        # Execute THIS DataFrame's queryExecution (a sink write would plan
        # a separate execution and leave this one un-finalized).
        joined.foreach(lambda _: None)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan and "AQEShuffleRead skewed" in plan

        derived_dim = hot.select("k").distinct().withColumn("v", F.lit("x"))
        joined2 = hot.join(derived_dim, "k")
        joined2.foreach(lambda _: None)
        plan2 = joined2._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan2
        assert "skew=true" not in plan2  # AQE blind here → salting territory
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_kmin_values_partial_rows_bounded(spark):
    """The mergeable KMV shape's scale claim, asserted physically: the
    mapInPandas partial emits at most groups×k rows PER PARTITION (the
    only rows that ever shuffle), regardless of how many raw rows a
    partition holds — so the exchange is corpus-size-independent. Also
    re-checks the merged sketch is unaffected by partitioning."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators.sketches import kmin_values

    k, parts, groups = 8, 6, 3
    df = (
        spark.range(30_000)
        .select(
            (F.col("id") % groups).cast("string").alias("g"),
            # heavy duplication: only 100 distinct values per group
            (F.col("id") % 100 * 37 % 1000).alias("v"),
        )
        .repartition(parts)
    )
    from datacooker_dist_spark.operators.sketches import kmin_partials

    sketch = kmin_values(df, ["g"], "v", k)
    # Physical bound on the ONLY rows that shuffle: the partial stage
    # emits at most k distinct values per (group, partition).
    n_partial = kmin_partials(df, ["g"], "v", k).count()
    assert n_partial <= parts * groups * k
    # Hierarchical fold bound (VERDICT r09 task 2): the final per-group
    # merge consumes at most B folded rows per group, each a ≤k-entry
    # array — so no aggregation buffer ever holds more than k·B values
    # regardless of upstream task count P (B = ceil(sqrt(P)) by default).
    fold_b = 2
    folded = (
        kmin_partials(df, ["g"], "v", k)
        .groupBy(
            "g",
            F.pmod(F.spark_partition_id(), F.lit(fold_b)).alias("_fold"),
        )
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.collect_list("v"))), 1, k
            ).alias("_kmin")
        )
    )
    assert folded.count() <= groups * fold_b
    assert folded.select(F.max(F.size("_kmin"))).first()[0] <= k
    # ...and an explicit tiny-bucket fold yields the identical sketch
    # (k-min-of-union is associative — any bucketing merges to the same
    # k smallest distinct values).
    got_b2 = {
        r["g"]: list(r["kmin"])
        for r in kmin_values(df, ["g"], "v", k, fold_buckets=fold_b).collect()
    }
    got = {r["g"]: list(r["kmin"]) for r in sketch.collect()}
    import itertools

    brute = {}
    for g, vals in itertools.groupby(
        sorted(
            ((str(i % groups), i % 100 * 37 % 1000) for i in range(30_000))
        ),
        key=lambda t: t[0],
    ):
        brute[g] = sorted({v for _, v in vals})[:k]
    assert got == brute
    assert got_b2 == brute
    # Repartitioning must not change the sketch.
    got17 = {
        r["g"]: list(r["kmin"])
        for r in kmin_values(df.repartition(17), ["g"], "v", k).collect()
    }
    assert got17 == got


def test_knn_graph_append_batch_pairs_bounded(spark):
    """The graph append's within-batch pass is O(batch·cap), not batch²
    (round 11, VERDICT r10 task 3): the new×new candidates come from
    the standing-cell assignment through the build's doubly-capped
    co-cell machinery, so the scored-pair count is ≤ batch·seed_cap —
    asserted physically on the same pair frame the append scores — and
    the patched graph keeps every structural invariant (new nodes
    present, degree ≤ k, untouched base lists byte-identical)."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators import similarity as S
    from datacooker_dist_spark.operators.similarity import (
        _cocell_pairs,
        ivf_assign,
    )

    n, dim = 120, 8
    rows = []
    for i in range(n):
        c = i % 4
        v = [0.0] * dim
        v[c * 2] = 10.0
        v[c * 2 + 1] = float((i * 7) % 5)
        rows.append((i, v))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4)
    base = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0)  # 40 = 1/3 of corpus
    k = 4
    cells = S.ivf_cells(base, n_cells=4)
    graph = S.knn_graph_build(base, k=k, rounds=1, cells=cells)

    # The exact pair frame the append scores, bounded by batch·seed_cap
    # (all-pairs would be 40·39 = 1560; the cap is 40·2k = 320).
    n_batch = new.count()
    batch_assigned = ivf_assign(new, cells[0], assign_spill=2).select(
        F.col("vec_id").alias("node"), "cell"
    )
    n_pairs = _cocell_pairs(batch_assigned, pool_cap=4 * k,
                            seed_cap=2 * k).count()
    assert n_pairs <= n_batch * 2 * k
    assert n_pairs < n_batch * (n_batch - 1)  # strictly sub-all-pairs

    appended = S.knn_graph_append(graph, base, new, cells=cells, k=k)
    rows_out = appended.collect()
    new_ids = {r.vec_id for r in new.collect()}
    per_node = {}
    for r in rows_out:
        per_node.setdefault(r.vec_id, set()).add((r.neighbor_id, r.cosine))
    assert new_ids <= set(per_node)
    assert all(len(v) <= k for v in per_node.values())
    targets = {
        r.neighbor_id for r in rows_out
        if r.vec_id in new_ids and r.neighbor_id not in new_ids
    }
    old_per_node = {}
    for r in graph.collect():
        old_per_node.setdefault(r.vec_id, set()).add(
            (r.neighbor_id, r.cosine)
        )
    for node, edges in old_per_node.items():
        if node not in targets:
            assert per_node[node] == edges


def test_knn_graph_forget_delete_repair_invariants(spark):
    """The graph forget path (round 11, VERDICT r10 task 1) is a
    DELETE + REPAIR patch, not a rebuild: forgotten nodes' lists and
    every edge pointing at them are gone; only nodes that lost an edge
    re-truncate (from remaining edges ∪ a bounded re-search over the
    purged graph/corpus); untouched nodes' lists come back
    byte-identical; no node exceeds k; and a re-run of the purge on the
    purged graph deletes zero rows (compliance idempotence)."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators import similarity as S

    n, dim = 120, 8
    rows = []
    for i in range(n):
        c = i % 4
        v = [0.0] * dim
        v[c * 2] = 10.0
        v[c * 2 + 1] = float((i * 7) % 5)
        rows.append((i, v))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4)
    k = 4
    cells = S.ivf_cells(emb, n_cells=4)
    graph = S.knn_graph_build(emb, k=k, rounds=1, cells=cells)

    forget = emb.filter(F.col("vec_id") % 11 == 0).select("vec_id")
    purged_emb = emb.join(forget, "vec_id", "left_anti")
    purged = S.knn_graph_forget(
        graph, forget, purged_emb, cells, k=k
    ).localCheckpoint()

    fids = {r.vec_id for r in forget.collect()}
    out = purged.collect()
    assert all(r.vec_id not in fids for r in out)
    assert all(r.neighbor_id not in fids for r in out)

    per_node = {}
    for r in out:
        per_node.setdefault(r.vec_id, []).append(r)
    assert all(len(v) <= k for v in per_node.values())

    old = graph.collect()
    touched = {
        r.vec_id for r in old
        if r.neighbor_id in fids and r.vec_id not in fids
    }
    old_per_node = {}
    for r in old:
        old_per_node.setdefault(r.vec_id, set()).add(
            (r.neighbor_id, r.rnk, r.cosine)
        )
    for node, edges in old_per_node.items():
        if node in fids or node in touched:
            continue
        got = {(r.neighbor_id, r.rnk, r.cosine) for r in per_node[node]}
        assert got == edges, f"untouched node {node} changed"
    # every touched survivor still has a (repaired) list
    assert touched <= set(per_node)

    # re-purge deletes 0: no row matches the forget set on either side
    refs = purged.filter(
        F.col("vec_id").isin(list(fids))
        | F.col("neighbor_id").isin(list(fids))
    ).count()
    assert refs == 0


def test_merge_postings_fold_order_invariant(spark):
    """BM25 postings merge by addition (round 11): any partition of the
    corpus into batches, folded in any order, yields the identical
    index triple to the full rebuild — tf/dl integer sums and
    element-wise stats are associative and commutative, which is what
    licenses the streaming twin's land-partials-merge-at-read shape."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators.retrieval import (
        build_postings,
        merge_postings,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} common word{i % 5} tok{i % 7}")
         for i in range(60)],
        "doc_id long, text string",
    ).repartition(5)
    full = build_postings(docs)

    for parts in ([2, 3], [3, 5], [4, 7]):
        a, b = parts
        triples = [
            build_postings(docs.filter(F.col("doc_id") % a == r))
            for r in range(a)
        ]
        # fold forward then a reversed fold — both must equal rebuild
        for order in (triples, list(reversed(triples))):
            merged = order[0]
            for t in order[1:]:
                merged = merge_postings(merged, t)
            for got, exp, keys in (
                (merged[0], full[0], ["doc_id", "t"]),
                (merged[1], full[1], ["doc_id"]),
            ):
                diff = got.exceptAll(exp.select(*got.columns)).unionAll(
                    exp.select(*got.columns).exceptAll(got)
                )
                assert diff.count() == 0, (parts, keys)
            gs = merged[2].collect()[0]
            es = full[2].collect()[0]
            assert (gs.nd, gs.tt) == (es.nd, es.tt), parts


def _fake_session(app_id):
    """Stands in for a SparkSession: a memo key reads only the app id."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _run_threads(*targets):
    errors = []

    def guard(fn):
        try:
            fn()
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=guard, args=(t,)) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors


def test_memo_concurrent_first_touches_build_once():
    builds, seen = [], []
    start = threading.Barrier(16, timeout=10)

    @memo
    def shared_thing(spark, sf):
        builds.append(sf)
        time.sleep(0.05)
        return object()

    s = _fake_session("memo-build-once")

    def touch():
        start.wait()
        seen.append(shared_thing(s, "sf"))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _run_threads(*[touch] * 16)
    finally:
        sys.setswitchinterval(interval)
    assert builds == ["sf"]
    assert len(seen) == 16 and all(v is seen[0] for v in seen)


def test_memo_builds_different_keys_at_the_same_time():
    """Each build waits for the other to start: a lock shared by all
    keys would let only one in, and the barrier would time out."""
    both_building = threading.Barrier(2, timeout=10)

    @memo
    def shared_thing(spark, sf):
        both_building.wait()
        return sf

    s = _fake_session("memo-parallel-keys")
    out = {}
    _run_threads(
        lambda: out.setdefault("x", shared_thing(s, "x")),
        lambda: out.setdefault("y", shared_thing(s, "y")),
    )
    assert out == {"x": "x", "y": "y"}


def test_memo_default_and_explicit_args_share_one_entry():
    builds = []

    @memo
    def shared_index(spark, sf, dim=64, m=32):
        builds.append((sf, dim, m))
        return object()

    s = _fake_session("memo-defaults")
    first = shared_index(s, "sf")
    assert shared_index(s, "sf", 64, 32) is first
    assert shared_index(s, "sf", m=32) is first
    assert builds == [("sf", 64, 32)]
    assert shared_index(s, "sf", 32) is not first


def test_scoped_conf_restores_previous_value_after_exception(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError, match="inside the scope"):
        with scoped_conf(spark, key, 3):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("inside the scope")
    assert spark.conf.get(key) == before
