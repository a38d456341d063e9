"""Relational operator library (SURVEY.md §2.B core rows).

The reference deliberately has no relational operators (its README scopes it
to copy/reshape only — reference ``README.md:1-3``; empty op registries at
``DocGen.java:86-87``); this module supplies the operator set the engine adds
on top. Everything is declarative DataFrame API so Catalyst keeps predicate
pushdown, column pruning, join selection and AQE re-planning (SURVEY §4).

Scale posture per operator is documented inline: what shuffles, on which
keys, and which side broadcasts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Partition count above which global_rank/global_prefix_sum swap the
# inlined WHEN-chain offset lookup for a broadcast hash join on _pid: the
# chain evaluates one literal compare per partition PER ROW, so past ~512
# partitions the flat broadcast probe wins (and codegen stays small).
_OFFSET_CHAIN_MAX = 512


# ---------------------------------------------------------------- projection

def project(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Column select + reorder, with the reference's ``_`` placeholder
    meaning "skip" (A10/A11). Catalyst prunes the scan to the kept columns."""
    return df.select(*[c for c in columns if c != "_"])


# ---------------------------------------------------------------- joins

def join(
    df: DataFrame,
    other: DataFrame,
    on: Sequence[str] | Column,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi/theta join. ``broadcast_right`` hints a map-side (broadcast-hash)
    join for small dimension tables — at 100 TB the fact side then never
    shuffles. Without the hint AQE still converts to broadcast when the
    built side is under ``spark.sql.autoBroadcastJoinThreshold``."""
    right = F.broadcast(other) if broadcast_right else other
    return df.join(right, on=on, how=how)


def join_semi(df: DataFrame, other: DataFrame, on: Sequence[str]) -> DataFrame:
    """LEFT SEMI: existence filter without duplicating or widening rows.
    Cheaper than inner+distinct — the build side stores only keys."""
    return df.join(other, on=list(on), how="left_semi")


def join_anti(df: DataFrame, other: DataFrame, on: Sequence[str]) -> DataFrame:
    """LEFT ANTI: NOT EXISTS."""
    return df.join(other, on=list(on), how="left_anti")


def salted_join(
    df: DataFrame,
    other: DataFrame,
    on: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed (left) side's key into
    ``salt_buckets`` sub-keys and replicate the right side across all salts,
    so one hot key spreads over ``salt_buckets`` reducers instead of one.

    AQE's skew-join split handles most cases at runtime; explicit salting
    remains the tool when a single key exceeds what one task can hold even
    after AQE splitting (e.g. a null-key flood or a power-law head), or when
    AQE is unavailable (streaming joins). Cost: right side inflates
    ``salt_buckets``×, so use it on joins whose right side is modest.
    """
    salt = F.floor(F.rand(seed=42) * salt_buckets).cast("int")
    left = df.withColumn("_salt", salt)
    right = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return left.join(right, on=[on, "_salt"], how=how).drop("_salt")


# ---------------------------------------------------------------- aggregation

def aggregate(
    df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """Hash aggregate with map-side partial aggregation (Spark always plans
    partial_agg → shuffle-on-keys → final_agg, so the shuffle moves one row
    per key per input partition, not raw rows)."""
    return df.groupBy(*keys).agg(*aggs)


def rollup(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    return df.rollup(*keys).agg(*aggs)


def cube(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    return df.cube(*keys).agg(*aggs)


# ---------------------------------------------------------------- windows

def ranked(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    rank_col: str = "rnk",
    method: str = "row_number",
) -> DataFrame:
    """Attach a rank column. Callers must order by a deterministic (tiebroken)
    key list so results are engine-stable."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[method]
    return df.withColumn(rank_col, fn().over(w))


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
) -> DataFrame:
    """Top-k per group via row_number filter. One shuffle on the group keys;
    no global sort. At scale this beats orderBy().limit() whenever k·groups
    ≪ rows."""
    return (
        ranked(df, partition_by, order_by, "_rnk")
        .filter(F.col("_rnk") <= k)
        .drop("_rnk")
    )


# ---------------------------------------------------------------- sort/limit

def sort_limit(df: DataFrame, order_by: Sequence[Column], n: int) -> DataFrame:
    """Global top-n. Spark plans TakeOrderedAndProject: per-partition heaps of
    size n, then an n-row merge on the driver — no full sort, no full shuffle.
    Order must be tiebroken for a deterministic result set."""
    return df.orderBy(*order_by).limit(n)


# ---------------------------------------------------------------- set ops

def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """UNION ALL by column name (no shuffle at all)."""
    return a.unionByName(b)


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.subtract(b)


# ---------------------------------------------------------------- dedup

def dedup_exact(
    df: DataFrame, keys: Sequence[str], tiebreak: Sequence[Column] | None = None
) -> DataFrame:
    """Exact dedup on ``keys``. With ``tiebreak`` the survivor is the first
    row under that ordering (deterministic — SURVEY §7.3 calls out that bare
    ``dropDuplicates`` keeps an arbitrary survivor). One shuffle on keys."""
    if tiebreak is None:
        return df.dropDuplicates(list(keys))
    return top_k_per_group(df, keys, tiebreak, 1)


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    rank_col: str = "_grank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed exact global row rank (1-based, dense ordering by the
    tiebroken ``order_cols``) WITHOUT a single-partition sort.

    The naive spelling — ``row_number() OVER (ORDER BY ...)`` with no
    PARTITION BY — collapses the whole input into one task; at 100 TB
    that is the canonical scale-killer. This operator is the classic
    two-pass distributed ranking instead:

    1. ``repartitionByRange`` on the order columns (sampled range
       boundaries, P balanced sorted partitions);
    2. per-partition local ``row_number`` windowed BY
       ``spark_partition_id`` — P independent in-partition sorts, no
       collapse;
    3. per-partition row counts (P rows) collect to the driver, turn
       into prefix-sum offsets, and broadcast back — global rank =
       offset[pid] + local rank.

    The only driver round-trip is P integers. ``order_cols`` must be a
    TOTAL order (add a unique key as the last column) or ranks within a
    tie-group depend on partition placement.

    The offset lookup inlines as a WHEN chain up to
    ``_OFFSET_CHAIN_MAX`` partitions (a literal compare per partition —
    cheapest at the usual hundreds); past that it switches automatically
    to a broadcast hash join on the partition id, whose cost stays flat
    however many thousands of partitions a 100 TB sort needs
    (plan-pinned in tests/test_scale_patterns.py, VERDICT r02 task 6).
    The internal range-partitioned cache lives until the session
    releases the result (it holds only the projected columns).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    ranged = df.repartitionByRange(int(parts), *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # Persist: consumed by both the count pass and the rank pass; without
    # it the range shuffle runs twice.
    ranged = ranged.persist()
    counts = sorted(
        (r["_pid"], r["n"])
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = {}, 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    w = Window.partitionBy("_pid").orderBy(*cols)
    local = F.row_number().over(w)
    if len(offsets) > _OFFSET_CHAIN_MAX:
        off_df = df.sparkSession.createDataFrame(
            list(offsets.items()), "_pid int, _goff long"
        )
        return (
            ranged.withColumn("_lrank", local)
            .join(F.broadcast(off_df), "_pid", "left")
            .withColumn(
                rank_col,
                (F.col("_lrank") + F.coalesce("_goff", F.lit(0))).cast("long"),
            )
            .drop("_pid", "_lrank", "_goff")
        )
    off_expr = F.coalesce(
        *[
            F.when(F.col("_pid") == pid, F.lit(off))
            for pid, off in offsets.items()
        ],
        F.lit(0),
    ) if offsets else F.lit(0)
    return ranged.withColumn(
        rank_col, (local + off_expr).cast("long")
    ).drop("_pid")


def ntile_bucket(rank: Column, n_rows: Column, k: int) -> Column:
    """NTILE bucket (1..k) from a 1-based global rank — the exact SQL
    NTILE split: the first (n mod k) buckets get ⌈n/k⌉ rows, the rest
    ⌊n/k⌋. Pure arithmetic on the distributed rank, so NTILE semantics
    survive without the single-partition window NTILE itself requires.
    The divisions round-trip through double — exact for n < 2^53, far
    beyond any real row count."""
    size_small = (n_rows / k).cast("long")  # floor(n/k) for positive n
    n_big = n_rows - size_small * k  # n mod k
    size_big = size_small + 1
    in_big = rank <= n_big * size_big
    return (
        F.when(in_big, ((rank - 1) / size_big).cast("long") + 1)
        .otherwise(n_big + ((rank - n_big * size_big - 1) / size_small).cast("long") + 1)
        .cast("long")
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    value: str | Column,
    out_col: str = "_psum",
    scale: int = 2,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed exact running sum in global ``order_cols`` order —
    the scale-safe form of ``SUM(x) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING)``, which otherwise collapses into one task.

    Same two-pass shape as :func:`global_rank`: range repartition on the
    (tiebroken, total) order, per-partition running sums windowed by
    ``spark_partition_id``, per-partition TOTALS (P decimals) to the
    driver, prefix-summed and broadcast back as the partition offsets.
    Accumulation is DECIMAL(25,scale) end-to-end: decimal addition is
    associative, so the partition-split regrouping of the additions is
    exactly the sequential running sum — a double-typed version would
    drift from any sequential oracle by non-associativity. The output
    column is DECIMAL(25,scale); cast it as needed downstream.
    """
    from decimal import Decimal

    dec_t = f"decimal(25,{scale})"
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    val = (F.col(value) if isinstance(value, str) else value).cast(dec_t)
    parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    ranged = df.repartitionByRange(int(parts), *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged = ranged.persist()
    totals = sorted(
        (r["_pid"], r["s"])
        for r in ranged.groupBy("_pid").agg(F.sum(val).alias("s")).collect()
    )
    offsets, acc = {}, Decimal(0)
    for pid, s in totals:
        offsets[pid] = acc
        acc += s if s is not None else Decimal(0)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = F.sum(val).over(w)
    if len(offsets) > _OFFSET_CHAIN_MAX:
        # Same auto-switch as global_rank: past thousands of partitions
        # the WHEN chain's per-row literal scan loses to one broadcast
        # hash probe.
        off_df = df.sparkSession.createDataFrame(
            [(pid, str(off)) for pid, off in offsets.items()],
            "_pid int, _goff string",
        ).select("_pid", F.col("_goff").cast(dec_t).alias("_goff"))
        return (
            ranged.withColumn("_lsum", local)
            .join(F.broadcast(off_df), "_pid", "left")
            .withColumn(
                out_col,
                (
                    F.col("_lsum")
                    + F.coalesce("_goff", F.lit("0").cast(dec_t))
                ).cast(dec_t),
            )
            .drop("_pid", "_lsum", "_goff")
        )
    off_expr = F.coalesce(
        *[
            F.when(F.col("_pid") == pid, F.lit(str(off)).cast(dec_t))
            for pid, off in offsets.items()
        ],
        F.lit("0").cast(dec_t),
    ) if offsets else F.lit("0").cast(dec_t)
    return ranged.withColumn(
        out_col, (local + off_expr).cast(dec_t)
    ).drop("_pid")


def pareto_front_2d(
    df: DataFrame,
    min_col: str,
    max_col: str,
    *,
    lo: float,
    hi: float,
    buckets: int = 64,
) -> DataFrame:
    """Exact 2-D skyline: rows where no other row has ``min_col`` ≤ and
    ``max_col`` ≥ with at least one strict inequality (minimize the
    first objective, maximize the second).

    Scale shape (never a corpus self-join, never a global sort):

    1. Bucket ``min_col`` into a fixed grid ([lo, hi] × ``buckets``) and
       hash-aggregate per-bucket max of ``max_col`` — one linear pass,
       ≤ ``buckets``+2 output rows.
    2. Compute each bucket's STRICT-prefix maximum over that bounded
       grid (a global window, but structurally bounded by a limit so
       the single-partition stage sees ≤ ``buckets``+2 rows), and
       broadcast it. Any row whose ``max_col`` is strictly below the
       best value in a strictly cheaper bucket is dominated (a strictly
       cheaper bucket implies a strictly smaller ``min_col``) and is
       pruned scan-side.
    3. Survivors ≈ frontier + same-bucket stragglers — small by
       construction — so the exact dominance test is a broadcast
       left-anti non-equi self-join on survivors only. Pruned rows
       cannot hide a dominator: if q dominates p and q was pruned, the
       row that pruned q lives in a strictly cheaper bucket and
       transitively dominates p, and the chain of pruned dominators
       strictly descends buckets, so it terminates at a survivor.
    """
    cols = df.columns
    bucketed = df.withColumn(
        "_bkt",
        F.width_bucket(
            min_col, F.lit(float(lo)), F.lit(float(hi)), F.lit(buckets)
        ).cast("int"),
    )
    per_bucket = bucketed.groupBy("_bkt").agg(
        F.max(max_col).alias("_bkt_max")
    )
    wpre = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = (
        per_bucket.orderBy("_bkt")
        .limit(buckets + 2)
        .withColumn("_prefix_max", F.max("_bkt_max").over(wpre))
        .select("_bkt", "_prefix_max")
    )
    # No persist: the survivor subtree appears twice (probe side + the
    # broadcast dominance build), costing one extra linear scan of the
    # base — a better trade than a persist that stays pinned for the
    # session (ADVICE r04; DataFrame persist() is never auto-released).
    # The broadcast prefix build is reused across both occurrences.
    survivors = (
        bucketed.join(F.broadcast(prefix), "_bkt", "left")
        .filter(
            F.col("_prefix_max").isNull()
            | (F.col(max_col) >= F.col("_prefix_max"))
        )
        .select(*cols)
    )
    dom = survivors.select(
        F.col(min_col).alias("_q_min"), F.col(max_col).alias("_q_max")
    )
    cond = (
        (F.col("_q_min") <= F.col(min_col))
        & (F.col("_q_max") >= F.col(max_col))
        & (
            (F.col("_q_min") < F.col(min_col))
            | (F.col("_q_max") > F.col(max_col))
        )
    )
    return survivors.join(F.broadcast(dom), cond, "left_anti")
