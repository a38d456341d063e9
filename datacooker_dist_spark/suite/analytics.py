"""Analytic-function suite entries: histograms, quantiles, ordered string
aggregation, distribution window functions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import concurrently
from . import query, scratch_dir, table


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 600000 THEN 13
                     ELSE FLOOR(12.0 * o_totalprice / 600000) + 1 END
                AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders GROUP BY bucket
    """,
)
def agg_histogram(spark, sf):
    """Equi-width histogram via width_bucket — a single hash aggregate, the
    constant-memory way to profile a 100 TB column (vs sort-based
    percentile scans)."""
    o = table(spark, sf, "orders")
    return o.groupBy(
        F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12))
        .cast("long")
        .alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark, sf):
    """Exact interpolating quartiles (percentile ≡ quantile_cont). Exact
    quantiles sort per group — bounded-cardinality keys only; unbounded
    keys should use approx_percentile (t-digest) instead."""
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.50)).alias("q50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
    )


@query(
    "agg_string_concat",
    oracle="""
    SELECT l_returnflag,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
               AS statuses,
           CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_statuses
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_string_concat(spark, sf):
    """Ordered distinct string aggregation (LISTAGG shape): collect_set →
    array_sort → array_join keeps the result deterministic under any
    partitioning (bare collect_list order is not)."""
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias(
            "statuses"
        ),
        F.countDistinct("l_linestatus").alias("n_statuses"),
    )


@query("agg_approx_percentile")  # rows-only: sketch results are engine-specific
def agg_approx_percentile(spark, sf):
    """approx_percentile: the constant-memory quantile sketch that replaces
    exact per-group sorts once key cardinality is unbounded (the 100 TB
    counterpart of `agg_percentiles`)."""
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "p50_approx"
        ),
        F.approx_percentile("l_extendedprice", F.lit(0.99), F.lit(10000)).alias(
            "p99_approx"
        ),
    )


@query(
    "events_enriched",
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(DATE_TRUNC('day', e.ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(25,2))) AS DOUBLE) AS sum_value,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(CAST(json_extract_string(e.props, '$.k') AS BIGINT)
                AS DECIMAL(25,2))) AS DOUBLE) AS sum_k
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type IN ('click', 'purchase')
    GROUP BY c.c_mktsegment, DATE_TRUNC('day', e.ts)
    """,
)
def events_enriched(spark, sf):
    """Stream-enrichment composition: events filtered, joined to a broadcast
    customer dimension, JSON props extracted, rolled up by segment × day —
    the shape of a production event pipeline (fact never shuffles for the
    join; the aggregate shuffles one row per (segment, day) per partition)."""
    e = table(spark, sf, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    c = table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,2)")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(k.cast("decimal(25,2)")).cast("double").alias("sum_k"),
        )
    )


@query(
    "window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution(spark, sf):
    """Distribution window functions: ntile/percent_rank/cume_dist. The
    rank ratios are exact rationals of row counts, so they compare
    bit-identically across engines under the tiebroken ordering."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    o = table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS active_week
      FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INT)
             AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY f.cohort_week, week_offset
    """,
)
def retention_cohorts(spark, sf):
    """Cohort retention matrix: users bucketed by first-seen week, counted
    per weeks-since-cohort offset. Two hash aggregates + one equi-join on
    user_id — at 100 TB both aggregates pre-shuffle on user_id so AQE can
    reuse the exchange; output is cohorts × offsets (tiny)."""
    e = table(spark, sf, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("active_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(
    "funnel_steps",
    oracle="""
    WITH t1 AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS ta
      FROM events),
    t2 AS (
      SELECT user_id, ts, event_type, ta,
             MIN(CASE WHEN event_type = 'click' AND ts > ta THEN ts END)
               OVER (PARTITION BY user_id) AS tb
      FROM t1),
    t3 AS (
      SELECT user_id, ta, tb,
             MIN(CASE WHEN event_type = 'purchase' AND ts > tb THEN ts END)
               OVER (PARTITION BY user_id) AS tc
      FROM t2)
    SELECT CAST(COUNT(DISTINCT CASE WHEN ta IS NOT NULL THEN user_id END)
                AS BIGINT) AS viewed,
           CAST(COUNT(DISTINCT CASE WHEN tb IS NOT NULL THEN user_id END)
                AS BIGINT) AS then_clicked,
           CAST(COUNT(DISTINCT CASE WHEN tc IS NOT NULL THEN user_id END)
                AS BIGINT) AS then_purchased
    FROM t3
    """,
)
def funnel_steps(spark, sf):
    """Ordered-funnel analysis (view → click → purchase, strictly later
    steps): three chained conditional-min windows over ONE user_id
    partitioning — a single shuffle, no self-joins (the naive 3-way
    event-table self-join explodes quadratically at 100 TB); then one
    global distinct-count rollup."""
    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id")
    ta = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    t1 = e.select("user_id", "ts", "event_type", ta.alias("ta"))
    tb = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("ta")), F.col("ts"))
    ).over(w)
    t2 = t1.select("user_id", "ts", "event_type", "ta", tb.alias("tb"))
    tc = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("tb")),
            F.col("ts"),
        )
    ).over(w)
    t3 = t2.select("user_id", "ta", "tb", tc.alias("tc"))
    return t3.agg(
        F.count_distinct(
            F.when(F.col("ta").isNotNull(), F.col("user_id"))
        ).alias("viewed"),
        F.count_distinct(
            F.when(F.col("tb").isNotNull(), F.col("user_id"))
        ).alias("then_clicked"),
        F.count_distinct(
            F.when(F.col("tc").isNotNull(), F.col("user_id"))
        ).alias("then_purchased"),
    )


@query(
    "timeseries_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS hour_value
      FROM events GROUP BY event_type, hour),
    bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events),
    grid AS (
      SELECT t.event_type, g.hour
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
            FROM bounds) g)
    SELECT grid.event_type, grid.hour,
           COALESCE(
             LAST_VALUE(h.hour_value IGNORE NULLS) OVER (
               PARTITION BY grid.event_type ORDER BY grid.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             0.0) AS filled_value,
           h.hour_value IS NULL AS gap_filled
    FROM grid LEFT JOIN hourly h
      ON h.event_type = grid.event_type AND h.hour = grid.hour
    """,
)
def timeseries_gapfill(spark, sf):
    """Regular-grid densification + last-observation-carried-forward: hourly
    per-type value sums on a complete hour grid, gaps filled with the last
    observed hour (0.0 before the first observation). The grid is
    span-hours × type-cardinality — independent of fact row count, so at
    100 TB it is still tiny and both grid inputs broadcast; the only wide
    operations are the hourly pre-aggregate (map-side partial) and one
    per-type window. Hour sums accumulate as DECIMAL; LOCF copies values
    bit-for-bit, so the fill is cross-engine exact."""
    ev = table(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum(F.col("value").cast("decimal(25,2)")).cast("double")
        .alias("hour_value")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    grid = ev.select("event_type").distinct().crossJoin(F.broadcast(hours))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce(
                F.last("hour_value", ignorenulls=True).over(w), F.lit(0.0)
            ).alias("filled_value"),
            F.col("hour_value").isNull().alias("gap_filled"),
        )
    )


@query(
    "pipeline_feature_store",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           MAX(ts) AS last_seen,
           CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) / COUNT(value)
             AS avg_value,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
             AS n_purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
             AS n_error,
           CAST(SUM(CAST(value AS DECIMAL(25,2)))
                  FILTER (WHERE event_type = 'purchase') AS DOUBLE)
             AS purchase_value
    FROM events
    GROUP BY user_id
    """,
)
def pipeline_feature_store(spark, sf):
    """User-level ML feature engineering: event counts, type cardinality,
    recency, decimal-exact monetary aggregates, and conditional (FILTER)
    per-type features — all fused into ONE hash aggregate over a single
    events scan. This is the feature-store build job: at 100 TB it is one
    shuffle on user_id with map-side partials, and every feature column
    adds zero extra passes. NULL-safe: purchase_value is NULL for users
    with no purchases (exactly what a downstream imputation step expects)."""
    ev = table(spark, sf, "events")
    is_p = F.col("event_type") == "purchase"
    dec = F.col("value").cast("decimal(25,2)")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
        F.max("ts").alias("last_seen"),
        (F.sum(dec).cast("double") / F.count("value")).alias("avg_value"),
        F.count(F.when(is_p, 1)).alias("n_purchase"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_error"),
        F.sum(F.when(is_p, dec)).cast("double").alias("purchase_value"),
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    SELECT event_type, value_bucket, n FROM (
      SELECT event_type, value_bucket, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY n DESC, value_bucket) AS rn
      FROM (SELECT event_type,
                   CAST(FLOOR(value / 50) AS BIGINT) AS value_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY event_type, value_bucket))
    WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark, sf):
    """Per-group MODE with a total order: most frequent value bucket per
    event type, ties broken by bucket value. The built-in mode() breaks
    ties arbitrarily (engine- and partitioning-dependent), so the engine
    form is count-then-rank — two hash aggregates sharing the group key's
    partitioning plus a tiny per-group window. Same result every run, on
    every engine."""
    ev = table(spark, sf, "events")
    counts = ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 50).cast("long").alias("value_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("value_bucket")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "window_distinct_count",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(COUNT(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY CAST(ts AS DATE)
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS types_so_far
    FROM events
    """,
)
def window_distinct_count(spark, sf):
    """Running DISTINCT count per key: Spark has no COUNT(DISTINCT) OVER,
    so the engine form is size(collect_set() OVER) — same state bound
    (the distinct set per partition frame) and one user_id shuffle. Day
    peers enter the frame together (RANGE semantics) on both engines.
    This is the 'unique event types seen so far' engagement signal."""
    ev = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("date"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.size(F.collect_set("event_type").over(w)).cast("long")
        .alias("types_so_far"),
    )


@query(
    "window_ratio_to_report",
    oracle="""
    WITH s AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) OVER (
               PARTITION BY o_custkey) AS DOUBLE) AS cust_total
      FROM orders)
    SELECT o_custkey, o_orderkey, o_totalprice,
           o_totalprice / cust_total AS share_of_customer
    FROM s
    """,
)
def window_ratio_to_report(spark, sf):
    """Ratio-to-report: each order's share of its customer's total spend —
    an unordered full-partition window (no sort needed, one user_id
    shuffle). The denominator accumulates as DECIMAL so the division's
    operands are bit-identical across engines and partition counts; the
    division itself is then IEEE-deterministic."""
    o = table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey")
    total = F.sum(F.col("o_totalprice").cast("decimal(25,2)")).over(w).cast("double")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        (F.col("o_totalprice") / total).alias("share_of_customer"),
    )


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(25,4))) AS DOUBLE) AS s2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - m.s1 / m.n)
                 / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)), 6) AS z
    FROM events e JOIN m ON e.event_type = m.event_type
    WHERE abs(round((e.value - m.s1 / m.n)
                    / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)), 6)) > 2.5
    """,
)
def events_anomaly_zscore(spark, sf):
    """Per-type z-score outlier detection: decimal-exact moments (sum,
    sum-of-squares) give bit-stable mean/stddev per event type; the tiny
    moment table broadcasts back onto the events scan, so flagging is one
    aggregate plus one broadcast join — two passes over events, no
    per-row shuffle. z rounded to 6 before the threshold so the cut is
    identical on both engines."""
    ev = table(spark, sf, "events")
    dec2 = F.col("value").cast("decimal(25,2)")
    dec4 = (F.col("value") * F.col("value")).cast("decimal(25,4)")
    m = ev.groupBy("event_type").agg(
        F.sum(dec2).cast("double").alias("s1"),
        F.sum(dec4).cast("double").alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    n = F.col("n")
    mean = F.col("s1") / n
    std = F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1))
    z = F.round((F.col("value") - mean) / std, 6)
    return (
        ev.join(F.broadcast(m), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.5)
    )


@query(
    "rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey, last_order, frequency, monetary,
             NTILE(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
             NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM base)
    SELECT o_custkey, last_order, frequency, monetary,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm
    FROM scored
    """,
)
def rfm_segments(spark, sf):
    """RFM customer segmentation: one hash aggregate builds the
    recency/frequency/monetary base, then three NTILE(5) scores (each
    tiebroken by custkey for a total order — NTILE on ties is otherwise
    partitioning-dependent) and the composite segment code. Each score
    comes off the DISTRIBUTED ranking operator (:func:`..operators.
    relational.global_rank` + exact NTILE arithmetic) — three range
    shuffles over the per-customer aggregate instead of three
    single-partition sort collapses, so the query survives a customer
    dimension in the billions."""
    from ..operators.relational import global_rank, ntile_bucket

    o = table(spark, sf, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double")
        .alias("monetary"),
    ).persist()
    n_df = base.agg(F.count(F.lit(1)).alias("_n"))
    scored = base
    for rank_col, order in [
        ("_rr", ["last_order", "o_custkey"]),
        ("_rf", ["frequency", "o_custkey"]),
        ("_rm", ["monetary", "o_custkey"]),
    ]:
        scored = global_rank(scored, order, rank_col=rank_col)
    scored = scored.crossJoin(F.broadcast(n_df)).select(
        "o_custkey", "last_order", "frequency", "monetary",
        ntile_bucket(F.col("_rr"), F.col("_n"), 5).cast("int").alias("r_score"),
        ntile_bucket(F.col("_rf"), F.col("_n"), 5).cast("int").alias("f_score"),
        ntile_bucket(F.col("_rm"), F.col("_n"), 5).cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "rfm",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int"),
    )


@query(
    "agg_boolean",
    oracle="""
    SELECT event_type,
           bool_and(value > 10) AS all_big,
           bool_or(value > 990) AS any_huge,
           CAST(count_if(value > 500) AS BIGINT) AS n_high,
           CAST(count_if(value <= 500) AS BIGINT) AS n_low
    FROM events GROUP BY event_type
    """,
)
def agg_boolean(spark, sf):
    """Boolean aggregates — every/any/count_if — one hash aggregate with
    map-side partials; the boolean lattice short-circuits in the combiner
    (a single false settles bool_and for the partition)."""
    ev = table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.every(F.col("value") > 10).alias("all_big"),
        F.some(F.col("value") > 990).alias("any_huge"),
        F.count_if(F.col("value") > 500).alias("n_high"),
        F.count_if(F.col("value") <= 500).alias("n_low"),
    )


@query(
    "adapter_partitioned_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year
    FROM lineitem
    WHERE EXTRACT(year FROM l_shipdate) = 1998
    """,
)
def adapter_partitioned_roundtrip(spark, sf):
    """Partitioned-sink copy path through the correctness gate: lineitem
    flows out through the hadoopParquet OUTPUT adapter with
    partition_by=[ship_year] (hive-style directories), then a
    ship_year=1998 read comes back with PartitionFilters pruning — only
    that year's directory is opened, the organizing principle for
    time-partitioned lakes. The oracle filters the source the plain way;
    equality proves the partitioned layout is lossless and the partition
    column round-trips."""

    from ..model import DataStream, StreamType
    from ..registry import resolve_output

    base = scratch_dir("part")
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity",
        F.year("l_shipdate").cast("int").alias("ship_year"),
    )
    out = resolve_output("hadoopParquet")().configure(
        {"partition_by": ["ship_year"]}
    ).initialize(spark, base)
    out.save("lineitem", DataStream("lineitem", li, StreamType.COLUMNAR))
    back = spark.read.parquet(base).filter(F.col("ship_year") == 1998)
    return back.select(
        "l_orderkey", "l_linenumber", "l_quantity",
        F.col("ship_year").cast("int").alias("ship_year"),
    )


@query(
    "scan_partition_dpp",
    oracle="""
    WITH yrs AS (
      SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr
      FROM orders WHERE o_totalprice > 499700)
    SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE)
             AS revenue
    FROM lineitem
    JOIN yrs ON CAST(EXTRACT(year FROM l_shipdate) AS INT) = yrs.yr
    GROUP BY ship_year
    """,
)
def scan_partition_dpp(spark, sf):
    """Dynamic partition pruning — the join-time complement to
    adapter_partitioned_roundtrip's static pruning: the fact lands
    hive-partitioned by ship_year, and the partition filter is NOT a
    literal but the distinct year set of a filtered dimension (orders with
    a near-cap total price). Catalyst plants a DPP subquery on the scan
    (reusing the broadcast), so only qualifying year directories are
    opened — on a date-partitioned 100 TB lake this is the difference
    between scanning 7 years and scanning the 4 the dim selects. The
    oracle computes the same join without the partitioned detour."""

    from ..model import DataStream, StreamType
    from ..registry import resolve_output

    base = scratch_dir("dpp")
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice",
        F.year("l_shipdate").cast("int").alias("ship_year"),
    )
    out = resolve_output("hadoopParquet")().configure(
        {"partition_by": ["ship_year"]}
    ).initialize(spark, base)
    out.save("lineitem", DataStream("lineitem", li, StreamType.COLUMNAR))

    fact = spark.read.parquet(base)
    yrs = (
        table(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 499700)
        .select(F.year("o_orderdate").cast("int").alias("yr"))
        .distinct()
    )
    from ..functions.scalars import dsum

    return (
        fact.join(F.broadcast(yrs), fact["ship_year"] == yrs["yr"])
        .groupBy(fact["ship_year"].cast("int").alias("ship_year"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("revenue"),
        )
    )


@query(
    "growth_wow",
    oracle="""
    WITH w AS (
      SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY week)
    SELECT week, revenue,
           LAG(revenue) OVER (ORDER BY week) AS prev_revenue,
           round(100.0 * (revenue - LAG(revenue) OVER (ORDER BY week))
                 / LAG(revenue) OVER (ORDER BY week), 6) AS wow_pct
    FROM w
    """,
)
def growth_wow(spark, sf):
    """Week-over-week growth — the canonical BI period comparison: weekly
    decimal-exact revenue, previous week via LAG over the (tiny,
    one-row-per-week) aggregate, growth as a rounded percentage. The
    global window orders weeks AFTER aggregation, so the sort input is
    weeks-count rows regardless of fact volume. NULL first week
    (LAG over nothing) round-trips as NULL on both engines."""
    o = table(spark, sf, "orders")
    wk = o.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("week")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("week")
    prev = F.lag("revenue").over(w)
    return wk.select(
        "week", "revenue", prev.alias("prev_revenue"),
        F.round(100.0 * (F.col("revenue") - prev) / prev, 6).alias("wow_pct"),
    )


@query(
    "attribution_last_touch",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_id, ts, value,
             MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_view_ts,
             event_type
      FROM events)
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           last_view_ts, value
    FROM tagged
    WHERE event_type = 'purchase'
      AND last_view_ts IS NOT NULL
      AND ts - last_view_ts <= INTERVAL 7 DAY
    """,
)
def attribution_last_touch(spark, sf):
    """Last-touch attribution: each purchase credits the most recent
    preceding view by the same user within a 7-day window. One user_id
    window (running MAX of view timestamps, excluding the current row)
    replaces the events⋈events self-join — a single shuffle and linear
    state, where the join form is quadratic per heavy user. The
    (ts, event_id) ordering makes the frame deterministic under
    same-timestamp events."""
    ev = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.max(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("last_view_ts", last_view)
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("last_view_ts").isNotNull()
            & (F.col("ts") <= F.col("last_view_ts") + F.expr("INTERVAL 7 DAY"))
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_view_ts",
            "value",
        )
    )


@query(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events)
    SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def event_transitions(spark, sf):
    """User-journey transition matrix (Markov bigram counts): LEAD over
    each user's event sequence pairs every event with its successor, then
    one aggregate counts the 5×5 transition matrix. One user_id window
    shuffle + a map-side-partial aggregate over 25 groups; the
    (ts, event_id) ordering pins same-timestamp sequences."""
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "time_rollup_multigrain",
    oracle="""
    WITH base AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(date_trunc('week', ts) AS DATE) AS week,
             value
      FROM events)
    SELECT hour, day, week,
           CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS v,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM base
    GROUP BY GROUPING SETS ((hour), (day), (week))
    """,
)
def time_rollup_multigrain(spark, sf):
    """Hour + day + week rollups from ONE events scan: GROUPING SETS over
    three derived time columns expands each row into its three
    granularities inside the aggregate (Catalyst's Expand), so the
    multi-grain dashboard table costs one pass instead of three separate
    scans. Decimal sums keep every grain engine-exact."""
    ev = table(spark, sf, "events")
    ev.select(
        F.date_trunc("hour", "ts").alias("hour"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.date_trunc("week", "ts").cast("date").alias("week"),
        "value",
    ).createOrReplaceTempView("mg_base_v")
    return spark.sql(
        """
        SELECT hour, day, week,
               CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS v,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM mg_base_v
        GROUP BY GROUPING SETS ((hour), (day), (week))
        """
    )


@query(
    "agg_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type)
    SELECT e.event_type, m.med,
           median(abs(e.value - m.med)) AS mad,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type, m.med
    """,
)
def agg_mad(spark, sf):
    """Median absolute deviation — the robust dispersion measure outliers
    can't poison (unlike stddev, which events_anomaly_zscore showed needs
    a 2.5σ cut precisely because extremes drag it). Two exact medians:
    per-type median, broadcast back, then the median of absolute
    deviations — two aggregate passes over events, the unavoidable shape
    for exact nested medians (approx sketches collapse it to one).
    abs(x - med) of identical doubles is bit-stable, so the second median
    is engine-exact too."""
    ev = table(spark, sf, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(
            F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "session_stats",
    oracle="""
    WITH flags AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flags)
    SELECT user_id, CAST(sid AS BIGINT) AS session_id,
           MIN(ts) AS session_start,
           epoch_us(MAX(ts) - MIN(ts)) AS duration_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, sid
    """,
)
def session_stats(spark, sf):
    """Full batch sessionization deliverable: 30-minute-gap sessions via
    gaps-and-islands (LAG flag → running SUM = session id) with duration,
    event count, and decimal-exact value per session. Both windows AND
    the final aggregate share the user_id partitioning — one shuffle end
    to end; (ts, event_id) ordering pins simultaneous events."""
    ev = table(spark, sf, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.col("ts") - F.lag("ts").over(wo) >= F.expr("INTERVAL 30 MINUTES"),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("sid", F.sum("new_s").over(wr))
    return sess.groupBy(
        "user_id", F.col("sid").cast("long").alias("session_id")
    ).agg(
        F.min("ts").alias("session_start"),
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        ).alias("duration_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,2)")).cast("double")
        .alias("session_value"),
    )


@query(
    "pareto_abc",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE)
               AS revenue
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,2)))
                        AS DOUBLE) AS t FROM lineitem),
    ranked AS (
      SELECT l_partkey, revenue,
             round(CAST(SUM(CAST(revenue AS DECIMAL(25,2)))
                        OVER (ORDER BY revenue DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   / (SELECT t FROM tot), 9) AS cum_share
      FROM pv)
    SELECT l_partkey, revenue, cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def pareto_abc(spark, sf):
    """Pareto / ABC classification: parts ranked by revenue with running
    cumulative share of total — class A carries the top 80% of revenue,
    B the next 15%, C the tail. The cumulative sum runs as the
    DISTRIBUTED prefix sum (:func:`..operators.relational.
    global_prefix_sum`: range repartition + per-partition running sums +
    broadcast decimal offsets) — a bare global ordered window would
    collapse the per-part aggregate into one task, and the part
    dimension keeps growing with the catalog. Decimal accumulation makes
    the partition-regrouped additions EQUAL the oracle's sequential
    running sum (doubles would drift by non-associativity); the
    (revenue DESC, partkey) tiebreak totally orders the cumsum."""
    from ..operators.relational import global_prefix_sum

    li = table(spark, sf, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(25,2)")
    pv = li.groupBy("l_partkey").agg(
        F.sum(dec).cast("double").alias("revenue")
    )
    tot = li.agg(F.sum(dec).cast("double").alias("t"))
    cum = global_prefix_sum(
        pv,
        [F.col("revenue").desc(), F.col("l_partkey")],
        "revenue",
        out_col="_cum",
    )
    ranked = cum.crossJoin(F.broadcast(tot)).select(
        "l_partkey", "revenue",
        F.round(F.col("_cum").cast("double") / F.col("t"), 9).alias("cum_share"),
    )
    return ranked.withColumn(
        "abc_class",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C"),
    )


@query(
    "events_heatmap_dow_hour",
    oracle="""
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY dow, hod
    """,
)
def events_heatmap_dow_hour(spark, sf):
    """Activity heatmap: day-of-week × hour-of-day counts and decimal-exact
    value sums — one hash aggregate into at most 168 cells, map-side
    partial, the canonical seasonality profile. Engine numbering gotcha:
    Spark's dayofweek is 1=Sunday..7 while DuckDB's is 0=Sunday..6 — the
    oracle shifts by one to align."""
    ev = table(spark, sf, "events")
    return ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,2)")).cast("double")
        .alias("total_value"),
    )


@query(
    "merge_upsert_scd1",
    oracle="""
    WITH upd AS (
      SELECT c_custkey AS k, c_name AS name, c_acctbal + 100.0 AS acctbal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'new_' || CAST(c_custkey AS VARCHAR), 0.0
      FROM customer WHERE c_custkey % 97 = 0)
    SELECT COALESCE(u.k, c.c_custkey) AS c_custkey,
           COALESCE(u.name, c.c_name) AS c_name,
           COALESCE(u.acctbal, c.c_acctbal) AS c_acctbal,
           u.k IS NOT NULL AS touched
    FROM customer c FULL OUTER JOIN upd u ON c.c_custkey = u.k
    """,
)
def merge_upsert_scd1(spark, sf):
    """MERGE INTO semantics (SCD type-1 upsert) as a batch operator: a
    changelog of updates + inserts full-outer-joins the target on the key;
    matched rows take the update's values, unmatched targets survive
    unchanged, unmatched updates insert. This is the relational core of
    Delta/Iceberg MERGE — at warehouse scale the same plan runs
    partition-pruned against only the files the changelog keys touch.
    Complements scd2_dim_build (which keeps history; type 1 overwrites)."""
    c = table(spark, sf, "customer")
    upd = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.col("c_name").alias("name"),
            (F.col("c_acctbal") + 100.0).alias("acctbal"),
        )
        .unionAll(
            c.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 1000000).alias("k"),
                F.concat(F.lit("new_"), F.col("c_custkey").cast("string")).alias(
                    "name"
                ),
                F.lit(0.0).alias("acctbal"),
            )
        )
    )
    merged = c.join(upd, c["c_custkey"] == upd["k"], "full_outer")
    return merged.select(
        F.coalesce(upd["k"], c["c_custkey"]).alias("c_custkey"),
        F.coalesce(upd["name"], c["c_name"]).alias("c_name"),
        F.coalesce(upd["acctbal"], c["c_acctbal"]).alias("c_acctbal"),
        upd["k"].isNotNull().alias("touched"),
    )


@query(
    "events_pattern_match",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS n_events,
           CAST((length(s) - length(replace(s, 'vp', ''))) // 2 AS BIGINT)
             AS n_view_then_buy,
           regexp_matches(s, 'v[^p]*p') AS reaches_purchase
    FROM seq
    """,
)
def events_pattern_match(spark, sf):
    """Sequence-pattern matching (MATCH_RECOGNIZE-lite): each user's
    event history collapses to an ordered initial-letter string (one hash
    aggregate; array_sort of (ts, event_id, initial) structs pins a total
    order), then pattern ops run as plain string expressions — count of
    immediate view→purchase adjacencies and a regex for any
    view-eventually-purchase path. Complex-event-processing over 100 TB
    without a specialized engine: the per-user string is bounded by the
    user's own history, and everything after the aggregate is narrow."""
    ev = table(spark, sf, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("i"))
            .alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("e")), lambda x: x["i"]),
                "",
            ).alias("s")
        )
    )
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        F.expr(
            "(length(s) - length(replace(s, 'vp', ''))) div 2"
        ).cast("long").alias("n_view_then_buy"),
        F.col("s").rlike("v[^p]*p").alias("reaches_purchase"),
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY DATE_TRUNC('day', ts)
    """,
)
def agg_multi_distinct(spark, sf):
    """Several COUNT(DISTINCT ...) over different columns in ONE query —
    Catalyst compiles this to a single Expand (one input row per distinct
    column) feeding one aggregate pipeline, not one scan per distinct.
    The plan shape to know at 100 TB: N distinct columns cost N× the
    shuffled rows of one scan, never N scans of the fact."""
    ev = table(spark, sf, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "market_basket_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
          FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_together
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey)
    SELECT part_a, part_b, n_together,
           round(n_together / n.n_orders, 9) AS support
    FROM pairs, n
    WHERE n_together >= 2
    """,
)
def market_basket_pairs(spark, sf):
    """Market-basket co-occurrence (association mining's candidate pass):
    part pairs appearing in the same order, with support. The self-join
    is keyed on l_orderkey, so the pair space is per-basket quadratic —
    bounded by max basket size (~7 lines), never corpus-quadratic — and
    the support denominator rides the plan as a broadcast scalar. The
    support>=k gate is what keeps the output sparse at scale (the
    frequent-itemset pruning principle)."""
    li = table(spark, sf, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("n_orders")
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.l_orderkey") == F.col("b.l_orderkey"),
                F.col("a.l_partkey") < F.col("b.l_partkey"),
            ],
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_together"))
        .filter(F.col("n_together") >= 2)
    )
    return pairs.crossJoin(F.broadcast(n_orders)).select(
        "part_a", "part_b", "n_together",
        F.round(F.col("n_together") / F.col("n_orders"), 9).alias("support"),
    )


@query(
    "interval_sweep_open_orders",
    oracle="""
    WITH iv AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS s,
             CAST(MAX(l.l_shipdate) AS DATE) AS e
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate),
    deltas AS (
      SELECT s AS day, 1 AS d FROM iv
      UNION ALL
      SELECT CAST(e + INTERVAL 1 DAY AS DATE), -1 FROM iv),
    daily AS (
      SELECT day, CAST(SUM(d) AS BIGINT) AS delta
      FROM deltas GROUP BY day)
    SELECT day, delta,
           CAST(SUM(delta) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS open_orders
    FROM daily
    """,
)
def interval_sweep_open_orders(spark, sf):
    """Sweep-line interval-overlap counting — how many orders are 'in
    flight' (placed, not yet fully shipped) on each day: every interval
    emits +1 at its start and -1 the day after its end, a hash aggregate
    nets the deltas per day, and a running sum over the (tiny,
    one-row-per-day) aggregate reconstructs the concurrency curve. The
    alternative — joining a day grid against intervals — is
    O(days × intervals); the sweep is O(intervals) + a sort of distinct
    days, the only formulation that survives 100 TB of intervals. The
    global window runs AFTER aggregation, on rows bounded by the
    calendar, not the data."""
    o = table(spark, sf, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("s")
    )
    e = (
        table(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").cast("date").alias("e"))
    )
    iv = o.join(e, o["o_orderkey"] == e["l_orderkey"]).select("s", "e")
    deltas = iv.select(F.col("s").alias("day"), F.lit(1).alias("d")).unionAll(
        iv.select(F.date_add("e", 1).alias("day"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("day").agg(F.sum("d").cast("long").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", "delta", F.sum("delta").over(w).cast("long").alias("open_orders")
    )


_AUDIT_ORACLE = """
    SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_num,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_orderkey', COUNT(*),
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderkey),
           CAST(MIN(o_orderkey) AS DOUBLE), CAST(MAX(o_orderkey) AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           COUNT(DISTINCT o_orderstatus),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           COUNT(DISTINCT o_totalprice),
           CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM orders
    """

_AUDIT_COLS = [
    ("o_custkey", "bigint"),
    ("o_orderkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
]


@query("quality_audit_columns", oracle=_AUDIT_ORACLE)
def quality_audit_columns(spark, sf):
    """Column-profile data-quality audit (the Deequ/Great-Expectations
    shape): completeness (null count), exact cardinality, and min/max per
    audited column, all in ONE scan — the multi-distinct aggregate plans
    as a single Expand, so a 100 TB table is read once however many
    columns are audited. Min/max are TYPED columns (min_num/max_num
    double, min_str/max_str string), never engine-rendered decimal
    strings, so the report survives any driver canonicalization
    (VERDICT r02 task 1). Exact distincts are the audit-grade choice for
    key columns; the approx twin below is the free-text/100 TB mode."""
    from ..operators.audit import profile_columns

    return profile_columns(table(spark, sf, "orders"), _AUDIT_COLS)


@query("quality_audit_columns_approx")
def quality_audit_columns_approx(spark, sf):
    """HLL-sketch variant of the column audit (rows-only: approximate
    cardinalities have no exact oracle): approx_count_distinct per column
    means NO Expand — partial aggregation stays map-side and one ordinary
    1-row shuffle finishes, vs the exact mode's (cols+1)× row expansion
    and whole-table distinct shuffle on near-unique keys. This is the
    audit mode for free-text / high-cardinality columns at 100 TB
    (VERDICT r02 task 8)."""
    from ..operators.audit import profile_columns

    return profile_columns(table(spark, sf, "orders"), _AUDIT_COLS,
                           approx=True)


@query(
    "timeseries_twap",
    oracle="""
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS t, value,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id)
               - epoch_us(ts) AS d
      FROM events),
    g AS (
      SELECT user_id, CAST(SUM(d) AS BIGINT) AS span_us,
             CAST(SUM(CAST(value * d AS DECIMAL(25,6))) AS DOUBLE) AS wsum
      FROM s WHERE d IS NOT NULL GROUP BY user_id)
    SELECT user_id, span_us, round(wsum / span_us, 6) AS twap
    FROM g WHERE span_us > 0
    """,
)
def timeseries_twap(spark, sf):
    """Time-weighted average value per user (TWAP / sensor duty-cycle
    mean): each observation weighted by the interval it was in force,
    normalized by the covered span. One shuffle (per-key ordered window
    into the grouped sum); durations are integer epoch-micros and the
    weighted sum accumulates in exact decimal, with event_id breaking
    timestamp ties — fully engine-stable floats."""
    from ..operators.timeseries import time_weighted_avg
    from . import read_events

    ev = read_events(spark, sf)
    return time_weighted_avg(
        ev, ts="ts", value="value", keys=["user_id"], tiebreak=["event_id"]
    )


@query(
    "skew_profile_keys",
    oracle="""
    WITH c AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_suppkey),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total,
                   CAST(AVG(n) AS DOUBLE) AS avg_n,
                   MAX(n) AS max_n FROM c)
    SELECT l_suppkey, n,
           round(n / total, 6) AS share,
           round(max_n / avg_n, 6) AS skew_factor
    FROM c, tot
    ORDER BY n DESC, l_suppkey ASC LIMIT 10
    """,
)
def skew_profile_keys(spark, sf):
    """Join-key skew profiler — the diagnostic run before sizing a big
    join: per-key row counts, each heavy hitter's share of the table, and
    the max/avg skew factor (>> 1 means salting or AQE skew-split
    territory). One hash aggregate; the totals stay IN the plan as a
    broadcast 1-row join (no driver collect); top-10 via TakeOrdered with
    a deterministic tiebreak."""
    li = table(spark, sf, "lineitem")
    c = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(
        F.sum("n").cast("double").alias("total"),
        F.avg("n").alias("avg_n"),
        F.max("n").alias("max_n"),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "l_suppkey", "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(F.col("max_n") / F.col("avg_n"), 6).alias("skew_factor"),
        )
        .orderBy(F.col("n").desc(), F.col("l_suppkey").asc())
        .limit(10)
    )


@query(
    "timeseries_ema",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2),
    rn AS (SELECT pri, day, cents,
                  ROW_NUMBER() OVER (PARTITION BY pri ORDER BY day) AS r
           FROM base),
    rec AS (
      SELECT pri, day, cents, r, cents AS ema FROM rn WHERE r = 1
      UNION ALL
      SELECT b.pri, b.day, b.cents, b.r, (b.cents + 7 * r0.ema) // 8
      FROM rec r0 JOIN rn b ON b.pri = r0.pri AND b.r = r0.r + 1)
    SELECT pri, day, cents, CAST(ema AS BIGINT) AS ema FROM rec
    """,
)
def timeseries_ema(spark, sf):
    """Exponential moving average (α = 1/8) of daily order value per
    priority, in exact integer fixed-point (cents). EMA's per-step floor
    division is inherently sequential, so the series run as
    ``applyInPandas`` groups (:func:`..operators.timeseries.
    ema_fixedpoint`): one shuffle on the series key, one Arrow batch per
    series, O(days) Python-int loop inside — group count is the
    parallelism, series length the memory bound, the layout that holds
    at millions of series. The oracle replays the identical recurrence
    as a DuckDB recursive CTE — integer arithmetic makes the two engines
    agree bit-for-bit where double EMA would drift."""
    from ..operators.timeseries import ema_fixedpoint

    daily = (
        table(spark, sf, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(25,2)")) * 100)
            .cast("long")
            .alias("cents")
        )
    )
    return ema_fixedpoint(
        daily, keys=["pri"], order_col="day", value_col="cents",
        alpha_num=1, alpha_den=8,
    )


@query(
    "agg_equidepth_histogram",
    oracle="""
    WITH t AS (
      SELECT o_totalprice,
             CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey)
                  AS BIGINT) AS bucket
      FROM orders)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM t GROUP BY bucket
    """,
)
def agg_equidepth_histogram(spark, sf):
    """Equi-DEPTH histogram (decile buckets of equal row count) — the
    optimizer-statistics twin of the equi-width `agg_histogram`:
    boundaries adapt to the distribution, so heavy-tailed columns get
    resolution where the mass is. Exact NTILE needs a global total
    order, but NOT the naive single-partition window (`ntile() OVER
    (ORDER BY ...)` collapses the input into one task): this uses the
    DISTRIBUTED ranking operator (:func:`..operators.relational.
    global_rank` — range repartition + per-partition rank + broadcast
    prefix offsets; the only driver round-trip is one integer per
    partition) and derives the bucket with exact NTILE arithmetic.
    The one-pass approximate variant (approx_percentile boundaries +
    width_bucket) is demonstrated by `agg_approx_percentile`."""
    from ..operators.relational import global_rank, ntile_bucket

    o = table(spark, sf, "orders").select("o_totalprice", "o_orderkey")
    ranked = global_rank(o, ["o_totalprice", "o_orderkey"], rank_col="_r")
    n_df = o.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n_df))
        .select(
            "o_totalprice",
            ntile_bucket(F.col("_r"), F.col("_n"), 10).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "audit_distribution_drift",
    oracle="""
    WITH t AS (
      SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                       WHEN o_totalprice >= 600000 THEN 13
                       ELSE FLOOR(12.0 * o_totalprice / 600000) + 1 END
                  AS BIGINT) AS bucket,
             (o_orderdate < TIMESTAMP '1998-01-01') AS is_base
      FROM orders),
    c AS (
      SELECT bucket,
             CAST(COUNT(*) FILTER (WHERE is_base) AS BIGINT) AS n_base,
             CAST(COUNT(*) FILTER (WHERE NOT is_base) AS BIGINT) AS n_cur
      FROM t GROUP BY bucket),
    tot AS (SELECT CAST(SUM(n_base) AS DOUBLE) AS tb,
                   CAST(SUM(n_cur) AS DOUBLE) AS tc FROM c),
    s AS (
      SELECT bucket, n_base, n_cur,
             greatest(n_base / tb, 0.0001) AS p,
             greatest(n_cur / tc, 0.0001) AS q
      FROM c, tot)
    SELECT bucket, n_base, n_cur,
           round((p - q) * round(ln(p / q), 9), 6) AS psi_term
    FROM s
    """,
)
def audit_distribution_drift(spark, sf):
    """Distribution-drift monitoring (PSI — population stability index):
    the o_totalprice histogram of the pre-1998 baseline period vs the
    current period, with the per-bucket drift term (p−q)·ln(p/q)
    (zero-count buckets floored at 1e-4, the standard smoothing; terms
    sum to the headline PSI, alert at ≳0.2). This is the ML-monitoring
    gate that catches a shifted feature distribution before a model
    silently degrades. ONE scan + one hash aggregate on the bucket id
    (both periods counted via conditional aggregation, never two
    scans); totals ride the plan as a broadcast scalar. The ln rounds
    to 9 digits before the product, the term to 6 — the suite's
    transcendental-exactness treatment."""
    o = table(spark, sf, "orders")
    bucket = (
        F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12))
        .cast("long")
        .alias("bucket")
    )
    is_base = F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    c = (
        o.select(bucket, is_base.alias("is_base"))
        .groupBy("bucket")
        .agg(
            F.count_if("is_base").alias("n_base"),
            F.count_if(~F.col("is_base")).alias("n_cur"),
        )
    )
    tot = c.agg(
        F.sum("n_base").cast("double").alias("tb"),
        F.sum("n_cur").cast("double").alias("tc"),
    )
    s = c.crossJoin(F.broadcast(tot)).select(
        "bucket", "n_base", "n_cur",
        F.greatest(F.col("n_base") / F.col("tb"), F.lit(0.0001)).alias("p"),
        F.greatest(F.col("n_cur") / F.col("tc"), F.lit(0.0001)).alias("q"),
    )
    return s.select(
        "bucket", "n_base", "n_cur",
        F.round(
            (F.col("p") - F.col("q")) * F.round(F.log(F.col("p") / F.col("q")), 9),
            6,
        ).alias("psi_term"),
    )


@query(
    "audit_benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM c)
    SELECT digit, n,
           round(n / t, 6) AS share,
           round(log10(1 + 1.0 / digit), 6) AS benford,
           round(n / t - round(log10(1 + 1.0 / digit), 6), 6) AS deviation
    FROM c, tot
    """,
)
def audit_benford_digits(spark, sf):
    """Benford first-digit audit — the classic fraud/fabrication screen:
    leading-digit shares of order values against the Benford expectation
    log10(1 + 1/d). Natural multi-scale monetary data follows it;
    invented numbers don't. One narrow digit projection + one 9-row
    aggregate; the total rides the plan as a broadcast scalar. The
    leading digit comes from the INTEGER part's string (values ≥ 1)
    via an explicit FLOOR — double→int CASTs round in DuckDB but
    truncate in Spark ANSI, flipping boundary values' digits; log10
    terms round to 6."""
    o = table(spark, sf, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").cast("double").alias("t"))
    benford = F.round(F.log10(1 + 1.0 / F.col("digit")), 6)
    return c.crossJoin(F.broadcast(tot)).select(
        "digit", "n",
        F.round(F.col("n") / F.col("t"), 6).alias("share"),
        benford.alias("benford"),
        F.round(F.col("n") / F.col("t") - benford, 6).alias("deviation"),
    )


@query(
    "timeseries_ohlc",
    oracle="""
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT event_type, bucket,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r
    GROUP BY event_type, bucket
    """,
)
def timeseries_ohlc(spark, sf):
    """OHLC resampling (the market-data / metrics downsample): per
    (event_type, hour) the opening and closing observation plus the
    high/low band. Open/close are picked by ranking inside the bucket on
    the total order (ts, event_id) — deterministic under ties — and
    collapsing with conditional aggregates, so the window and the final
    aggregate share one (event_type, bucket)-keyed exchange (AQE
    coalesces them); high/low/count ride the same partial aggregate.
    Scales with bucket cardinality on the wire, not event count."""
    ev = table(spark, sf, "events").withColumn(
        "bucket", F.date_trunc("hour", F.col("ts"))
    )
    w = Window.partitionBy("event_type", "bucket")
    r = ev.select(
        "event_type", "bucket", "value",
        F.row_number().over(
            w.orderBy(F.col("ts").asc(), F.col("event_id").asc())
        ).alias("rn_a"),
        F.row_number().over(
            w.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        ).alias("rn_d"),
    )
    return r.groupBy("event_type", "bucket").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "privacy_k_anonymity",
    oracle="""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             COUNT(*) AS class_size
      FROM customer
      GROUP BY c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT)
    )
    SELECT c_nationkey, c_mktsegment, bal_band,
           CAST(class_size AS BIGINT) AS class_size
    FROM cls WHERE class_size < 5
    """,
)
def privacy_k_anonymity(spark, sf):
    """k-anonymity audit (privacy governance gate): group rows by their
    quasi-identifier tuple (nation, market segment, account-balance band)
    and report every equivalence class smaller than k=5 — the classes
    whose members a linkage attack could single out. Run before any
    customer-grain extract leaves the warehouse; an empty result means
    the generalization (here: balance banded to 1000s) is sufficient.
    One hash aggregate keyed by the QI tuple (map-side partial, wire
    bounded by class count), then a size filter — scales with class
    cardinality, not row count."""
    c = table(spark, sf, "customer")
    cls = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    return cls.filter(F.col("class_size") < 5)


@query(
    "timeseries_resample_interp",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
             CAST(SUM(CAST(value AS DECIMAL(25,2))) * 100 AS BIGINT) AS cents
      FROM events GROUP BY 1, 2),
    b AS (SELECT DATE_TRUNC('hour', MIN(ts)) AS lo,
                 DATE_TRUNC('hour', MAX(ts)) AS hi FROM events),
    hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
              FROM b),
    grid AS (SELECT t.event_type, h.hour
             FROM (SELECT DISTINCT event_type FROM events) t, hours h),
    j AS (SELECT g.event_type, g.hour, hh.cents,
                 CAST(epoch(g.hour) AS BIGINT) AS es
          FROM grid g LEFT JOIN hourly hh USING (event_type, hour)),
    w AS (SELECT event_type, hour, cents, es,
                 LAST_VALUE(cents IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
                 LAST_VALUE(CASE WHEN cents IS NOT NULL THEN es END
                            IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pe,
                 FIRST_VALUE(cents IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
                 FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN es END
                            IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ne
          FROM j)
    SELECT event_type, hour,
           CASE
             WHEN cents IS NOT NULL THEN ROUND(CAST(cents AS DOUBLE) / 100, 6)
             WHEN pc IS NOT NULL AND nc IS NOT NULL THEN
               ROUND(CAST(pc * (ne - pe) + (nc - pc) * (es - pe) AS DOUBLE)
                     / CAST((ne - pe) * 100 AS DOUBLE), 6)
             WHEN pc IS NOT NULL THEN ROUND(CAST(pc AS DOUBLE) / 100, 6)
             ELSE ROUND(CAST(nc AS DOUBLE) / 100, 6)
           END AS interp_value,
           cents IS NULL AS is_interpolated
    FROM w
    """,
)
def timeseries_resample_interp(spark, sf):
    """Regular-grid resampling with LINEAR interpolation — the lerp
    counterpart of ``timeseries_gapfill``'s LOCF (gapfill carries the
    last value; interp draws the line between the surrounding observed
    hours — sensor-series resampling). The grid is span-hours ×
    type-cardinality, independent of fact volume (both sides broadcast
    at 100 TB); wide work is one hourly map-side-combined pre-aggregate
    and two per-type ordered windows (prev/next observed carry).
    Cross-engine exactness: hour sums land as integer CENTS, the lerp
    numerator pc·(ne−pe) + (nc−pc)·(es−pe) and denominator (ne−pe)·100
    stay in exact integer arithmetic, and ONE final correctly-rounded
    double division (+ round 6) produces the value — the suite's
    standard treatment for division-bearing oracled columns (a floating
    lerp would drift under FMA fusion). Edges: before the first / after
    the last observation fall back to the nearest observed value."""
    ev = table(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        (F.sum(F.col("value").cast("decimal(25,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour"
        )
    )
    grid = ev.select("event_type").distinct().crossJoin(F.broadcast(hours))
    j = grid.join(hourly, ["event_type", "hour"], "left").select(
        "event_type", "hour", "cents",
        F.unix_timestamp(F.col("hour").cast("timestamp")).alias("es"),
    )
    back = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_es = F.when(F.col("cents").isNotNull(), F.col("es"))
    w = j.select(
        "event_type", "hour", "cents", "es",
        F.last("cents", ignorenulls=True).over(back).alias("pc"),
        F.last(obs_es, ignorenulls=True).over(back).alias("pe"),
        F.first("cents", ignorenulls=True).over(fwd).alias("nc"),
        F.first(obs_es, ignorenulls=True).over(fwd).alias("ne"),
    )
    lerp_num = (
        F.col("pc") * (F.col("ne") - F.col("pe"))
        + (F.col("nc") - F.col("pc")) * (F.col("es") - F.col("pe"))
    ).cast("double")
    lerp_den = ((F.col("ne") - F.col("pe")) * 100).cast("double")
    return w.select(
        "event_type", "hour",
        F.when(
            F.col("cents").isNotNull(),
            F.round(F.col("cents").cast("double") / 100, 6),
        )
        .when(
            F.col("pc").isNotNull() & F.col("nc").isNotNull(),
            F.round(lerp_num / lerp_den, 6),
        )
        .when(
            F.col("pc").isNotNull(),
            F.round(F.col("pc").cast("double") / 100, 6),
        )
        .otherwise(F.round(F.col("nc").cast("double") / 100, 6))
        .alias("interp_value"),
        F.col("cents").isNull().alias("is_interpolated"),
    )


@query(
    "privacy_forget_cascade",
    oracle="""
    WITH forget AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 53 = 0),
    o AS (SELECT o_orderkey, o_custkey FROM orders),
    purged_o AS (SELECT o_orderkey FROM o
                 WHERE o_custkey IN (SELECT c_custkey FROM forget)),
    counts AS (
      SELECT 'customer' AS table_name,
             (SELECT COUNT(*) FROM forget) AS n_purged,
             (SELECT COUNT(*) FROM customer)
               - (SELECT COUNT(*) FROM forget) AS n_kept
      UNION ALL
      SELECT 'orders',
             (SELECT COUNT(*) FROM purged_o),
             (SELECT COUNT(*) FROM o) - (SELECT COUNT(*) FROM purged_o)
      UNION ALL
      SELECT 'lineitem',
             (SELECT COUNT(*) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM purged_o)),
             (SELECT COUNT(*) FROM lineitem)
               - (SELECT COUNT(*) FROM lineitem
                  WHERE l_orderkey IN (SELECT o_orderkey FROM purged_o)))
    SELECT table_name, CAST(n_purged AS BIGINT) AS n_purged,
           CAST(n_kept AS BIGINT) AS n_kept
    FROM counts
    """,
)
def privacy_forget_cascade(spark, sf):
    """Right-to-be-forgotten CASCADE audit — the compliance op every
    data platform needs before it deletes anything: given a forget-set
    of subjects (c_custkey % 53 = 0 here), report exactly how many rows
    each table in the foreign-key chain would purge and keep
    (customer → orders via o_custkey → lineitem via l_orderkey). The
    plan is the deletion plan itself run in audit mode: each hop is a
    LEFT SEMI join on the parent's purged keys — deliberately
    UN-hinted: a real forget-set ranges from a handful of subjects
    (AQE converts the semi to a broadcast at runtime) to a court-order
    sweep where the purged-order set is corpus-proportional and MUST
    shuffle (a hardcoded broadcast hint would OOM the driver there) —
    then one conditional-count aggregate per table; no row ever leaves
    the executors. Executing the purge is the same plans with anti
    instead of semi + a partition-overwrite write. EXACT-oracled end
    to end — integer counts, replayable key arithmetic."""
    c = table(spark, sf, "customer")
    forget = c.filter(F.col("c_custkey") % 53 == 0).select("c_custkey")
    o = table(spark, sf, "orders")
    purged_o = o.join(
        forget,
        o["o_custkey"] == forget["c_custkey"],
        "left_semi",
    ).select("o_orderkey")
    li = table(spark, sf, "lineitem")
    purged_li = li.join(
        purged_o,
        li["l_orderkey"] == purged_o["o_orderkey"],
        "left_semi",
    )

    def counts(name, total_df, purged_df):
        t = total_df.agg(F.count(F.lit(1)).alias("_n"))
        p = purged_df.agg(F.count(F.lit(1)).alias("n_purged"))
        return p.crossJoin(F.broadcast(t)).select(
            F.lit(name).alias("table_name"),
            F.col("n_purged").cast("long").alias("n_purged"),
            (F.col("_n") - F.col("n_purged")).cast("long").alias("n_kept"),
        )

    return (
        counts("customer", c, forget)
        .unionByName(counts("orders", o, purged_o))
        .unionByName(counts("lineitem", li, purged_li))
    )


@query(
    "privacy_forget_execute",
    oracle="""
    WITH forget AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 53 = 0),
    purged_o AS (SELECT o_orderkey FROM orders
                 WHERE o_custkey IN (SELECT c_custkey FROM forget))
    SELECT 'customer' AS table_name,
           CAST((SELECT COUNT(*) FROM customer)
                - (SELECT COUNT(*) FROM forget) AS BIGINT) AS n_kept,
           CAST(0 AS BIGINT) AS n_purged_rerun
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM orders)
                - (SELECT COUNT(*) FROM purged_o) AS BIGINT),
           CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT COUNT(*) FROM lineitem)
                - (SELECT COUNT(*) FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM purged_o))
             AS BIGINT),
           CAST(0 AS BIGINT)
    """,
)
def privacy_forget_execute(spark, sf):
    """Right-to-be-forgotten EXECUTE mode (round 10, VERDICT r09 task 6)
    — the purge ``privacy_forget_cascade`` audits, actually run: the
    same FK chain with LEFT ANTI in place of LEFT SEMI lands a purged
    COPY of each table (customer → orders via o_custkey → lineitem via
    l_orderkey) through the ``backfill_partition_overwrite`` machinery
    — hive-partitioned dynamic-overwrite parquet writes, the idempotent
    lake rewrite primitive. The returned ledger is measured from the
    WRITTEN FILES, cold: per table, n_kept = the purged copy's row
    count — the oracle recomputes the audit's n_kept from the original
    tables, so equality reconciles the executed deletion with the
    audit — and n_purged_rerun = the full purge chain RE-RUN against
    the purged copy (forget-set scan → order semi → lineitem semi),
    provably 0: re-running the purge deletes nothing, the compliance
    idempotence a regulator asks for. Anti joins stay deliberately
    un-hinted for the same reason the audit's semis do (AQE broadcasts
    a handful-of-subjects forget-set; a court-order sweep must
    shuffle); the writes rewrite each partition once; nothing collects
    to the driver."""
    base = scratch_dir("forgetexec")
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    forget = c.filter(F.col("c_custkey") % 53 == 0).select("c_custkey")
    purged_o_keys = o.join(
        forget, o["o_custkey"] == forget["c_custkey"], "left_semi"
    ).select("o_orderkey")
    kept_c = c.join(
        forget.withColumnRenamed("c_custkey", "_fk"),
        c["c_custkey"] == F.col("_fk"), "left_anti",
    )
    kept_o = o.join(
        forget, o["o_custkey"] == forget["c_custkey"], "left_anti"
    )
    kept_li = li.join(
        purged_o_keys, li["l_orderkey"] == purged_o_keys["o_orderkey"],
        "left_anti",
    )
    targets = {
        "customer": (kept_c, "c_mktsegment"),
        "orders": (kept_o, "o_orderpriority"),
        "lineitem": (kept_li, "l_returnflag"),
    }
    for name, (df, pcol) in targets.items():
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(pcol)
            .parquet(f"{base}/{name}")
        )
    cold_c = spark.read.parquet(f"{base}/customer")
    cold_o = spark.read.parquet(f"{base}/orders")
    cold_li = spark.read.parquet(f"{base}/lineitem")
    forget2 = cold_c.filter(F.col("c_custkey") % 53 == 0).select("c_custkey")
    purged_o2 = cold_o.join(
        forget2, cold_o["o_custkey"] == forget2["c_custkey"], "left_semi"
    ).select("o_orderkey")
    purged_li2 = cold_li.join(
        purged_o2, cold_li["l_orderkey"] == purged_o2["o_orderkey"],
        "left_semi",
    )

    def ledger(name, kept_df, rerun_df):
        k = kept_df.agg(F.count(F.lit(1)).alias("n_kept"))
        r = rerun_df.agg(
            F.count(F.lit(1)).alias("n_purged_rerun")
        )
        return k.crossJoin(F.broadcast(r)).select(
            F.lit(name).alias("table_name"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.col("n_purged_rerun").cast("long").alias("n_purged_rerun"),
        )

    return (
        ledger("customer", cold_c, forget2)
        .unionByName(ledger("orders", cold_o, purged_o2))
        .unionByName(ledger("lineitem", cold_li, purged_li2))
    )


@query(
    "privacy_forget_index",
    oracle="""
    WITH fd AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
                FROM documents WHERE doc_id % 53 = 0),
         fv AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
                FROM embeddings WHERE vec_id % 53 = 0)
    SELECT 'bm25_postings' AS artifact, fd.c AS n_forgotten_subjects,
           CAST(0 AS BIGINT) AS n_refs_left,
           CAST(0 AS BIGINT) AS n_mismatch_rebuild
    FROM fd
    UNION ALL SELECT 'golden_record', fd.c, CAST(0 AS BIGINT),
                     CAST(0 AS BIGINT) FROM fd
    UNION ALL SELECT 'ivf_assignment', fv.c, CAST(0 AS BIGINT),
                     CAST(0 AS BIGINT) FROM fv
    UNION ALL SELECT 'knn_graph', fv.c, CAST(0 AS BIGINT),
                     CAST(0 AS BIGINT) FROM fv
    UNION ALL SELECT 'lsh_band_index', fd.c, CAST(0 AS BIGINT),
                     CAST(0 AS BIGINT) FROM fd
    UNION ALL SELECT 'pq_codes', fv.c, CAST(0 AS BIGINT),
                     CAST(0 AS BIGINT) FROM fv
    UNION ALL SELECT 'sq8_codes', fv.c, CAST(0 AS BIGINT),
                     CAST(0 AS BIGINT) FROM fv
    UNION ALL SELECT 'substring_gram_index', fd.c, CAST(0 AS BIGINT),
                     CAST(0 AS BIGINT) FROM fd
    """,
)
def privacy_forget_index(spark, sf):
    """INDEX-SIDE right-to-be-forgotten (round 11, VERDICT r10 task 1 —
    the one compliance hole the relational purge left): every persisted
    standing artifact the engine maintains RETAINED the forgotten
    subjects' content after ``privacy_forget_execute``; at 100 TB none
    of them can rebuild per request, so each gets an incremental purge
    with an exact oracle. Forget sets mirror the relational family's
    key arithmetic: doc_id % 53 = 0 (text artifacts), vec_id % 53 = 0
    (vector artifacts). Per artifact, the purged copy is WRITTEN to
    parquet and read back COLD (the ``privacy_forget_execute``
    measured-from-written-files discipline), then the ledger reports:

    - ``n_refs_left`` — rows in the cold purged artifact still
      referencing a forgotten subject (id, neighbor id, posting,
      band row, code row, golden survivor/cluster key): 0. This is
      also exactly what a RE-RUN of the purge would delete, so 0 is
      the idempotence proof.
    - ``n_mismatch_rebuild`` — full diff of the cold purged artifact
      against a REBUILD-FROM-PURGED-CORPUS under the artifact's
      RETAINED trained parameters: 0, by construction at every SF.

    The retained-parameter convention (the position a production
    pipeline takes): PQ codebooks, SQ8 min/max params, and the gram
    index's stop-gram list are AGGREGATE trained state, not subject
    content — they are kept, and the rebuild comparisons encode under
    them (``similarity_index_append`` ≡ re-encode, inverted). Per
    artifact:

    - BM25 postings: anti-join tf/dl, (nd, tt) re-derived from the
      purged doc-length table (one bounded aggregate — never a corpus
      re-tokenize); ≡ rebuild because tokenization is per-doc.
    - LSH band index / substring gram index / PQ / SQ8 codes / IVF
      assignment (the searchable cell table CARRIES the vectors — a
      first-class purge target): per-row anti-joins; ≡ rebuild because
      signatures, grams (under the retained stop-list: capped_index −
      forgotten ≡ (uncapped over purged) − stop_list, by set algebra),
      encodings, and cell argmaxes are per-row functions of the
      subject row alone under retained trained state.
    - kNN graph: DELETE + REPAIR via
      :func:`~..operators.similarity.knn_graph_forget` (the inverse of
      the append's touched-only patch — only nodes that LOST an edge
      re-truncate from remaining edges ∪ a bounded re-search over the
      purged graph). An NN-descent rebuild is iterative and would not
      match row-for-row, so its mismatch column is the honest
      structural triple: untouched nodes byte-identical + no degree
      over k + no forgotten reference (the ``knn_graph_append``
      oracle convention, inverted).
    - Golden record: survivors re-derive for AFFECTED clusters only
      (clusters holding a forgotten member; components re-run on the
      bounded surviving sub-graph — the ``dedup_golden_incremental``
      machinery inverted, handling splits); ≡ full golden rebuild
      because unaffected components keep both members and min-id
      labels.

    Every purge is an anti-join against a broadcastable forget set;
    every repair is bounded by the touched set — nothing rescans or
    reshuffles the standing corpus.

    Optimization round 11 (guide §2.6): the eight artifact purges are
    mutually independent chains of eager work (a parquet write + cold
    read each, plus the golden section's checkpointed CC) that used to
    run strictly sequentially on the driver; they now build as
    :func:`..session.concurrently` legs after the session memos they
    read are pre-warmed sequentially. The golden section's session-global
    ``spark.sql.shuffle.partitions`` override is gone — the partition
    count rides into :func:`connected_components` via its ``parts``
    argument instead, so concurrent builders never see a mutated
    session conf (labels are partition-layout-invariant by the CC
    contract; everything else under that conf was perf-only). Ledger
    values unchanged; union order stays the fixed builder order."""
    from ..operators import dedup as D
    from ..operators import similarity as S
    from ..operators.retrieval import build_postings
    from . import shared_jaccard_pairs, shared_shingles
    from .llm import (
        IVF_SPILL,
        KNN_GRAPH_K,
        shared_forgotten_knn_graph,
        shared_ivf_index,
        shared_kgram_rows,
        shared_knn_graph,
        shared_pq_index,
        shared_sq8_index,
    )
    from .llm_ext import golden_rollup

    # Pre-warm the session memos on this thread: a memo build that holds
    # a conf scope may not run inside a leg.
    shared_shingles(spark, sf)
    shared_kgram_rows(spark, sf, k=10)
    shared_pq_index(spark, sf)
    shared_sq8_index(spark, sf)
    shared_ivf_index(spark, sf)
    shared_knn_graph(spark, sf)
    shared_forgotten_knn_graph(spark, sf)
    shared_jaccard_pairs(spark, sf)

    docs = table(spark, sf, "documents")
    emb = table(spark, sf, "embeddings")
    forget_docs = docs.filter(F.col("doc_id") % 53 == 0).select("doc_id")
    forget_vecs = emb.filter(F.col("vec_id") % 53 == 0).select("vec_id")
    purged_docs = docs.join(F.broadcast(forget_docs), "doc_id", "left_anti")
    purged_emb = emb.join(F.broadcast(forget_vecs), "vec_id", "left_anti")
    base = scratch_dir("forgetidx")

    def cold(df, name):
        df.write.mode("overwrite").parquet(f"{base}/{name}")
        return spark.read.parquet(f"{base}/{name}")

    def n_diff(a, b, alias="n_mismatch_rebuild"):
        # exceptAll is POSITIONAL; a using-key anti-join reorders its key
        # column first, so align the rebuild's columns to the cold copy's
        # by name before diffing.
        b = b.select(*a.columns)
        return (
            a.exceptAll(b).unionAll(b.exceptAll(a))
            .agg(F.count(F.lit(1)).alias(alias))
        )

    def n_semi(df, keys, col_, alias="n_refs_left"):
        return df.join(
            F.broadcast(keys.withColumnRenamed(keys.columns[0], col_)),
            col_, "left_semi",
        ).agg(F.count(F.lit(1)).alias(alias))

    nfd = forget_docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_forgotten_subjects")
    ).localCheckpoint()
    nfv = forget_vecs.agg(
        F.count(F.lit(1)).cast("long").alias("n_forgotten_subjects")
    ).localCheckpoint()

    def row(name, subj, refs, mism):
        return subj.crossJoin(F.broadcast(refs)).crossJoin(
            F.broadcast(mism)
        ).select(
            F.lit(name).alias("artifact"),
            "n_forgotten_subjects",
            F.col("n_refs_left").cast("long").alias("n_refs_left"),
            F.col("n_mismatch_rebuild").cast("long")
            .alias("n_mismatch_rebuild"),
        )

    # --- BM25 postings: anti-join + stats re-derived from purged dl.
    def _p_bm25():
        tf, dl, _stats = build_postings(docs)
        ptf = cold(
            tf.join(F.broadcast(forget_docs), "doc_id", "left_anti"),
            "bm_tf",
        )
        pdl = cold(
            dl.join(F.broadcast(forget_docs), "doc_id", "left_anti"),
            "bm_dl",
        )
        pstats = cold(
            pdl.agg(
                F.count(F.lit(1)).cast("double").alias("nd"),
                F.sum("dl").cast("double").alias("tt"),
            ),
            "bm_stats",
        )
        rtf, rdl, rstats = build_postings(purged_docs)
        bm_mism = (
            n_diff(ptf, rtf, "a").crossJoin(n_diff(pdl, rdl, "b"))
            .crossJoin(n_diff(pstats, rstats, "c"))
            .select(
                (F.col("a") + F.col("b") + F.col("c"))
                .alias("n_mismatch_rebuild")
            )
        )
        bm_refs = (
            n_semi(ptf, forget_docs, "doc_id", "a").crossJoin(
                n_semi(pdl, forget_docs, "doc_id", "b")
            ).select((F.col("a") + F.col("b")).alias("n_refs_left"))
        )
        return row("bm25_postings", nfd, bm_refs, bm_mism)

    # --- LSH band index: per-doc signatures, anti-join == rebuild.
    def _p_lsh():
        sh = shared_shingles(spark, sf)
        sh_purged = sh.join(
            F.broadcast(forget_docs), "doc_id", "left_anti"
        )
        lsh_cold = cold(
            D.lsh_band_index(docs, shingles=sh).join(
                F.broadcast(forget_docs), "doc_id", "left_anti"
            ),
            "lsh",
        )
        lsh_rebuild = D.lsh_band_index(purged_docs, shingles=sh_purged)
        return row(
            "lsh_band_index", nfd,
            n_semi(lsh_cold, forget_docs, "doc_id"),
            n_diff(lsh_cold, lsh_rebuild),
        )

    # --- Substring gram index: retained stop-gram list; set algebra
    # makes (capped − forgotten) ≡ ((uncapped over purged) − stop).
    def _p_gram():
        grams = shared_kgram_rows(spark, sf, k=10)
        gram_idx = D.substring_gram_index(None, grams=grams, max_df=64)
        gram_cold = cold(
            gram_idx.join(
                F.broadcast(
                    forget_docs.withColumnRenamed("doc_id", "id_base")
                ),
                "id_base", "left_anti",
            ),
            "grams",
        )
        uncapped = D.substring_gram_index(None, grams=grams, max_df=None)
        stop = (
            uncapped.groupBy("_gh").agg(F.count(F.lit(1)).alias("_ddf"))
            .filter(F.col("_ddf") > 64).select("_gh")
        )
        gram_rebuild = D.substring_gram_index(
            None,
            grams=grams.join(
                F.broadcast(forget_docs), "doc_id", "left_anti"
            ),
            max_df=None,
        ).join(stop, "_gh", "left_anti")
        return row(
            "substring_gram_index", nfd,
            n_semi(gram_cold, forget_docs, "id_base"),
            n_diff(gram_cold, gram_rebuild),
        )

    # --- PQ / SQ8 code tables: retained codebooks/params, re-encode.
    def _p_pq():
        cb, pq_enc = shared_pq_index(spark, sf)
        pq_cold = cold(
            pq_enc.join(F.broadcast(forget_vecs), "vec_id", "left_anti"),
            "pq",
        )
        pq_rebuild = S.pq_encode(purged_emb, cb, dim=64, m=32)
        return row(
            "pq_codes", nfv,
            n_semi(pq_cold, forget_vecs, "vec_id"),
            n_diff(pq_cold, pq_rebuild),
        )

    def _p_sq8():
        sq_params, sq_enc = shared_sq8_index(spark, sf)
        sq_cold = cold(
            sq_enc.join(F.broadcast(forget_vecs), "vec_id", "left_anti"),
            "sq8",
        )
        sq_rebuild = S.sq8_encode(purged_emb, sq_params)
        return row(
            "sq8_codes", nfv,
            n_semi(sq_cold, forget_vecs, "vec_id"),
            n_diff(sq_cold, sq_rebuild),
        )

    # --- IVF assignment: the searchable artifact CARRIES the vectors,
    # so it is a first-class purge target; retained centroids re-assign
    # the purged corpus identically (per-row argmax under standing
    # centroids — the ivf_cells build step itself).
    def _p_ivf():
        centroids, assigned = shared_ivf_index(spark, sf)
        ivf_cold = cold(
            assigned.join(
                F.broadcast(forget_vecs), "vec_id", "left_anti"
            ),
            "ivfassign",
        )
        ivf_rebuild = S.ivf_assign(
            purged_emb, centroids, assign_spill=IVF_SPILL
        )
        return row(
            "ivf_assignment", nfv,
            n_semi(ivf_cold, forget_vecs, "vec_id"),
            n_diff(ivf_cold, ivf_rebuild),
        )

    # --- kNN graph: delete + repair, structural mismatch triple (the
    # purged graph itself is session-shared with the probe entry).
    def _p_graph():
        g = shared_knn_graph(spark, sf)
        g_cold = cold(shared_forgotten_knn_graph(spark, sf), "knng")
        g_refs = (
            n_semi(g_cold, forget_vecs, "vec_id", "a").crossJoin(
                n_semi(g_cold, forget_vecs, "neighbor_id", "b")
            ).select((F.col("a") + F.col("b")).alias("n_refs_left"))
        )
        touched = (
            g.join(
                F.broadcast(
                    forget_vecs.withColumnRenamed("vec_id", "neighbor_id")
                ),
                "neighbor_id", "left_semi",
            )
            .select("vec_id").distinct()
        )
        untouched_old = g.join(
            F.broadcast(forget_vecs), "vec_id", "left_anti"
        ).join(F.broadcast(touched), "vec_id", "left_anti")
        untouched_new = g_cold.join(
            F.broadcast(touched), "vec_id", "left_anti"
        )
        deg_viol = (
            g_cold.groupBy("vec_id").agg(F.count(F.lit(1)).alias("_d"))
            .agg(
                F.count_if(F.col("_d") > KNN_GRAPH_K).alias("v")
            )
        )
        g_mism = (
            n_diff(untouched_new, untouched_old, "u").crossJoin(
                F.broadcast(deg_viol)
            ).select((F.col("u") + F.col("v")).alias("n_mismatch_rebuild"))
        )
        return row("knn_graph", nfv, g_refs, g_mism)

    # --- Golden record: affected-clusters-only survivorship re-derive.
    # CC partition count rides in via parts= (labels are layout-
    # invariant); everything else under the old conf override was
    # perf-only at this bounded sub-graph scale.
    def _p_golden():
        pairs = shared_jaccard_pairs(spark, sf)
        labels = D.connected_components(
            pairs.select("id_a", "id_b"), parts=4
        )
        members = (
            docs.join(
                labels.withColumnRenamed("id_a", "doc_id"),
                "doc_id", "left",
            )
            .select(
                "doc_id", "text", "n_chars", "source",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            )
            .localCheckpoint()
        )
        standing_golden = golden_rollup(members).localCheckpoint()
        affected = (
            members.join(F.broadcast(forget_docs), "doc_id", "left_semi")
            .select("cluster_id").distinct()
        )
        surv_aff = members.join(
            F.broadcast(affected), "cluster_id", "left_semi"
        ).join(F.broadcast(forget_docs), "doc_id", "left_anti")
        aff_ids = surv_aff.select("doc_id")
        sub_pairs = (
            pairs.select("id_a", "id_b")
            .join(
                F.broadcast(aff_ids.withColumnRenamed("doc_id", "id_a")),
                "id_a", "left_semi",
            )
            .join(
                F.broadcast(aff_ids.withColumnRenamed("doc_id", "id_b")),
                "id_b", "left_semi",
            )
        )
        relabels = D.connected_components(sub_pairs, parts=4)
        patched_aff = golden_rollup(
            surv_aff.drop("cluster_id")
            .join(
                relabels.withColumnRenamed("id_a", "doc_id"),
                "doc_id", "left",
            )
            .select(
                "doc_id", "text", "n_chars", "source",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            )
        )
        golden_cold = cold(
            standing_golden.join(
                F.broadcast(affected), "cluster_id", "left_anti"
            ).unionByName(patched_aff),
            "golden",
        )
        labels_r = D.connected_components(
            pairs.select("id_a", "id_b")
            .join(
                F.broadcast(
                    forget_docs.withColumnRenamed("doc_id", "id_a")
                ),
                "id_a", "left_anti",
            )
            .join(
                F.broadcast(
                    forget_docs.withColumnRenamed("doc_id", "id_b")
                ),
                "id_b", "left_anti",
            ),
            parts=4,
        )
        golden_rebuild = golden_rollup(
            purged_docs.join(
                labels_r.withColumnRenamed("id_a", "doc_id"),
                "doc_id", "left",
            ).select(
                "doc_id", "text", "n_chars", "source",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            )
        )
        golden_refs = (
            n_semi(golden_cold, forget_docs, "cluster_id", "a").crossJoin(
                n_semi(golden_cold, forget_docs, "golden_doc_id", "b")
            ).select((F.col("a") + F.col("b")).alias("n_refs_left"))
        )
        return row(
            "golden_record", nfd, golden_refs,
            n_diff(golden_cold, golden_rebuild),
        )

    builders = [
        _p_bm25, _p_lsh, _p_gram, _p_pq, _p_sq8, _p_ivf, _p_graph,
        _p_golden,
    ]
    # Width 3 per guide §2.6 (optimization round 12): "2-3 jobs in
    # flight is plenty" — the round-11 8-wide pools were the only
    # driver-measured regressions at 32 cores (concurrent jobs fighting
    # for task slots); 3 keeps the overlap without the fight.
    # Each purge section's ledger rows checkpoint INSIDE its leg
    # (optimization round 12 — the engine_scorecard shape): the
    # grading aggregates used to execute in the returned union's noop
    # pass; as legs they overlap with the other sections' eager work.
    # Union order stays the fixed builder order; values unchanged.
    rows = concurrently(
        spark, [lambda f=f: f().localCheckpoint() for f in builders], 3
    )

    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@query(
    "privacy_forget_probe",
    oracle="""
    WITH fd AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
                FROM documents WHERE doc_id % 53 = 0),
    fv AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
           FROM embeddings WHERE vec_id % 53 = 0),
    tok_all AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents),
    tok2_all AS (SELECT doc_id, t FROM tok_all WHERE t <> ''),
    presence AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS c
                 FROM tok2_all WHERE doc_id % 53 = 0),
    tok2 AS (SELECT doc_id, t FROM tok2_all WHERE doc_id % 53 <> 0),
    tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM tok2 GROUP BY 1),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
                     CAST(SUM(dl) AS DOUBLE) AS tt FROM dl),
    q AS (SELECT qid, t FROM (
            SELECT doc_id AS qid, t,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY t) AS rn
            FROM (SELECT DISTINCT doc_id, t FROM tok2_all
                  WHERE doc_id % 53 = 0)) WHERE rn <= 8),
    terms AS (SELECT DISTINCT t FROM q),
    post AS (SELECT tf.* FROM tf JOIN terms USING (t)),
    dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY 1),
    ts AS (SELECT p.doc_id, p.t,
                  round(round(ln((s.nd - d.df + 0.5) / (d.df + 0.5) + 1.0), 9)
                        * (p.tf * 2.2)
                        / round(p.tf + 1.2 * (0.25 + 0.75 * l.dl
                                              / (s.tt / s.nd)), 9),
                        9) AS tsc
           FROM post p JOIN dft d USING (t) JOIN dl l USING (doc_id),
                stats s),
    sc AS (SELECT q.qid, ts.doc_id, round(SUM(tsc), 6) AS bm25
           FROM ts JOIN q USING (t) GROUP BY 1, 2),
    r AS (SELECT qid, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY bm25 DESC, doc_id) AS rnk
          FROM sc),
    bmres AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(COUNT(*) FILTER (WHERE doc_id % 53 = 0)
                          AS BIGINT) AS hits
              FROM r WHERE rnk <= 5)
    SELECT 'bm25_presence_unpurged' AS surface, fd.c AS n_queries,
           presence.c AS n_rows, presence.c AS n_forgotten_hits
    FROM fd, presence
    UNION ALL SELECT 'bm25_probe_purged', fd.c, bmres.n_rows, bmres.hits
    FROM fd, bmres
    UNION ALL SELECT 'dense_probe_purged', fv.c, 5 * fv.c,
                     CAST(0 AS BIGINT) FROM fv
    UNION ALL SELECT 'graph_probe_purged', fv.c, 5 * fv.c,
                     CAST(0 AS BIGINT) FROM fv
    """,
)
def privacy_forget_probe(spark, sf):
    """ADVERSARIAL search probe of the purged indexes (round 11 — the
    end-to-end companion of ``privacy_forget_index``): a regulator's
    question is not only "are the rows gone from the artifact" but
    "can search still SURFACE the forgotten subject". Each probe
    queries a purged index with the queries MOST likely to find the
    forgotten subjects — their own content:

    - ``bm25_presence_unpurged`` — positive control: before the purge,
      every tokenized forgotten doc is present in the postings (the
      oracle computes the same presence count from raw text, so the
      control is exact, not assumed).
    - ``bm25_probe_purged`` — each forgotten doc's own
      alphabetically-first-8 tokens query the PURGED postings, top-5:
      zero forgotten docs in any result; the oracle replays the whole
      BM25 ranking over the purged corpus, so n_rows is exact too.
    - ``dense_probe_purged`` — each forgotten VECTOR (the request
      carries the subject's data transiently) searches the purged
      corpus exact-cosine, top-5: 5 rows per query (the eligible pool
      exceeds k at every SF — 490+ vectors after the ~1/53 purge),
      zero forgotten neighbors.
    - ``graph_probe_purged`` — the same forgotten vectors search the
      PURGED standing graph (:func:`shared_forgotten_knn_graph`,
      session-shared with the index entry) through purged cells: same
      5-per-query bound, zero forgotten neighbors — hops cannot
      traverse a forgotten node's list and scoring cannot resurrect a
      forgotten vector, by the delete+repair construction.

    Every probe is the standard bounded-broadcast search shape; the
    entry adds no new index builds beyond the session-shared purged
    graph."""
    from ..operators import similarity as S
    from ..operators.retrieval import bm25_topk, build_postings
    from .llm import (
        IVF_SPILL,  # noqa: F401  (documents the spill contract)
        shared_forgotten_knn_graph,
        shared_ivf_index,
    )

    docs = table(spark, sf, "documents")
    emb = table(spark, sf, "embeddings")
    forget_docs = docs.filter(F.col("doc_id") % 53 == 0).select("doc_id")
    forget_vecs = emb.filter(F.col("vec_id") % 53 == 0).select("vec_id")
    purged_docs = docs.join(F.broadcast(forget_docs), "doc_id", "left_anti")
    purged_emb = emb.join(F.broadcast(forget_vecs), "vec_id", "left_anti")

    nfd = forget_docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    ).localCheckpoint()
    nfv = forget_vecs.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    ).localCheckpoint()

    def probe_row(surface, nq, res, hit_col, hit_keys):
        n_rows = res.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        hits = res.join(
            F.broadcast(
                hit_keys.withColumnRenamed(hit_keys.columns[0], hit_col)
            ),
            hit_col, "left_semi",
        ).agg(F.count(F.lit(1)).cast("long").alias("n_forgotten_hits"))
        return nq.crossJoin(F.broadcast(n_rows)).crossJoin(
            F.broadcast(hits)
        ).select(
            F.lit(surface).alias("surface"),
            "n_queries", "n_rows", "n_forgotten_hits",
        )

    from ..operators.dedup import tokens_col

    tok2_all = (
        docs.select(
            "doc_id", F.explode(tokens_col("text")).alias("t")
        )
        .filter(F.col("t") != "")
        .distinct()
    )
    # Positive control: forgotten docs ARE in the unpurged postings.
    present = (
        tok2_all.join(F.broadcast(forget_docs), "doc_id", "left_semi")
        .select("doc_id").distinct()
    )
    control = nfd.crossJoin(
        F.broadcast(
            present.agg(F.count(F.lit(1)).cast("long").alias("_p"))
        )
    ).select(
        F.lit("bm25_presence_unpurged").alias("surface"),
        "n_queries",
        F.col("_p").alias("n_rows"),
        F.col("_p").alias("n_forgotten_hits"),
    )

    wq = Window.partitionBy("doc_id").orderBy("t")
    qterms = (
        tok2_all.join(F.broadcast(forget_docs), "doc_id", "left_semi")
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= 8)
        .select(F.col("doc_id").alias("qid"), "t")
    )
    bm = bm25_topk(*build_postings(purged_docs), qterms, k=5)
    bm_row = probe_row(
        "bm25_probe_purged", nfd, bm, "doc_id", forget_docs
    )

    fq = emb.join(F.broadcast(forget_vecs), "vec_id", "left_semi")
    dense = S.cosine_topk(purged_emb, fq, k=5)
    dense_row = probe_row(
        "dense_probe_purged", nfv, dense, "neighbor_id", forget_vecs
    )

    centroids, assigned = shared_ivf_index(spark, sf)
    purged_cells = (
        centroids,
        assigned.join(F.broadcast(forget_vecs), "vec_id", "left_anti"),
    )
    graph = S.cosine_topk_graph(
        purged_emb, fq, graph=shared_forgotten_knn_graph(spark, sf),
        cells=purged_cells, k=5, nprobe=4, hops=2, entry_cap=10,
        spilled=True,
    )
    graph_row = probe_row(
        "graph_probe_purged", nfv, graph, "neighbor_id", forget_vecs
    )

    return (
        control.unionByName(bm_row)
        .unionByName(dense_row)
        .unionByName(graph_row)
    )
