"""Streaming suite entries: batch-parity checks run through the real
micro-batch engine (Structured Streaming) with availableNow."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..streaming.pipeline import (
    drain,
    file_stream,
    run_available_now,
    windowed_counts,
)
from . import (
    EVENTS_RAW_SCHEMA,
    NO_MISMATCHES,
    ORACLES,
    is_path_not_found,
    query,
    read_parquet_or_empty,
    scoped_conf,
    scratch_dir,
)

EVENTS_US_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def events_stream(spark, sf):
    """readStream over ``events.parquet`` with ``ts`` normalized to TIMESTAMP
    (with local tz — watermarks require it; the session runs UTC so values
    equal the naive batch ones). Mirrors ``read_events``'s handling of both
    generator vintages: TIMESTAMP(NANOS) is read as raw int64 and
    floor-divided to micros; TIMESTAMP(MICROS) reads directly."""
    import pyarrow.parquet as pq

    from . import enable_nanos_as_long

    path = f"{sf}/events.parquet"
    if str(pq.read_schema(path).field("ts").type) == "timestamp[ns]":
        enable_nanos_as_long(spark)  # intentionally session-global, see helper
        s = file_stream(spark, path, EVENTS_RAW_SCHEMA)
        return s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    s = file_stream(spark, path, EVENTS_US_SCHEMA)
    return s.withColumn("ts", F.col("ts").cast("timestamp"))


@query(
    "stream_tumbling",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY DATE_TRUNC('hour', ts), event_type
    """,
)
def stream_tumbling(spark, sf):
    """Watermarked tumbling-window counts computed by the streaming engine
    over the bounded events table, drained with availableNow into a memory
    sink. The oracle is the batch answer — the parity the watermark contract
    guarantees for bounded input."""
    # Watermarks require TIMESTAMP (with local tz); the session runs UTC so
    # the collected window bounds equal the NTZ batch values.
    stream = events_stream(spark, sf)
    result = windowed_counts(stream, "ts", "1 hour", ["event_type"], watermark="1 hour")
    out = run_available_now(result, spark)
    # The watermark path forces TIMESTAMP (ltz); normalize to the suite's
    # NTZ convention so the collected schema matches the naive oracle.
    return out.withColumn("window_start", F.col("window_start").cast("timestamp_ntz"))


@query("stream_late_data")  # rows-only: late-data policy demonstration
def stream_late_data(spark, sf):
    """Watermark late-data policy (§2.B late_data_policy), end-to-end: an
    append-mode windowed count over two micro-batches where batch 2 carries
    a row older than the advanced watermark. The finalized 10:00 window must
    emit exactly once with the on-time count (2) — the late row is dropped.
    Deterministic single-row result.

    All batches run inside ONE availableNow drain: ``maxFilesPerTrigger=1``
    splits the source files into one micro-batch each (file order pinned by
    explicit mtimes). Since Spark 3.4 the LATE-EVENT watermark lags one
    batch behind the EVICTION watermark within a run (SPARK-24634 split
    them; a restart collapses both to the checkpointed value), so a spacer
    batch sits between the on-time file and the late file — by the late
    batch, the late-event watermark has advanced past the closed window and
    the row drops, exactly as it would on restart, at a third of the
    engine-startup cost."""
    import datetime as dt
    import os
    import time

    from pyspark.sql import functions as SF

    base = scratch_dir("late")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    t0 = dt.datetime(2024, 1, 1, 10, 0)

    def write(rows, mtime):
        # numSlices=1 (not coalesce(1)): coalescing a locally-parallelized
        # DataFrame folds default_parallelism Python partition payloads
        # into ONE task that pays a Python-worker round-trip per payload —
        # ~5 s on local[32] for a 3-row write. A single slice is one
        # round-trip and still exactly one output file (batch boundaries
        # here are per-file).
        spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            "k string, ts timestamp",
        ).write.mode("append").parquet(src)
        for name in os.listdir(src):
            path = os.path.join(src, name)
            if os.path.getmtime(path) > mtime:
                os.utime(path, (mtime, mtime))

    # The demo carries 4 rows; the state store allocates (and checkpoints)
    # one directory per shuffle partition, so scope the partition count
    # down for the duration of the drain. At production scale this knob is
    # sized to the key cardinality, not left at the default.
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 2):
        now = time.time()
        write([("a", t0), ("a", t0.replace(minute=30)),
               ("a", dt.datetime(2024, 1, 1, 13, 0))], now - 60)
        # Spacer batch: advances the late-event watermark to batch 0's
        # 12:50 before the late row arrives; lands in the 13:00 window,
        # outside the returned 10:00 filter.
        write([("spacer", dt.datetime(2024, 1, 1, 13, 5))], now - 30)
        # Late for the 10:00 window, which batch 0's 13:00 row finalized.
        write([("a", t0.replace(minute=45))], now)
        stream = spark.readStream.schema("k string, ts timestamp").option(
            "maxFilesPerTrigger", "1"
        ).option("latestFirst", "false").parquet(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(SF.window("ts", "1 hour").alias("w"), "k")
            .agg(SF.count(SF.lit(1)).alias("n"))
            .select(SF.col("w.start").cast("timestamp_ntz").alias("ws"), "k", "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink).filter(SF.col("ws") == t0)


@query(
    "stream_stateful_count",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_count(spark, sf):
    """Custom stateful operator (applyInPandasWithState): running per-user
    counts in the state store, Arrow-batched through Python. Draining the
    bounded stream and keeping each key's last (= max, counts are monotone)
    emission reproduces the batch GROUP BY — the oracle.

    State partitions are scoped to the key cardinality (~1e3 users →
    8 partitions ≈ 125 keys each): every state partition costs a state
    store instance + an Arrow/Python round-trip per batch, so oversizing
    the count multiplies fixed cost with zero parallelism gain. At
    production key cardinalities the same rule sizes the count UP
    (keys / target-keys-per-partition), bounded by cluster cores."""
    from ..streaming.stateful import running_counts

    with scoped_conf(spark, "spark.sql.shuffle.partitions", 8):
        stream = events_stream(spark, sf)
        emitted = run_available_now(
            running_counts(stream, "user_id"), spark, output_mode="update"
        )
    return emitted.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "stream_sliding",
    oracle="""
    WITH b AS (
      SELECT event_type,
             DATE_TRUNC('hour', ts)
             + CASE WHEN MINUTE(ts) >= 30 THEN INTERVAL 30 MINUTE
                    ELSE INTERVAL 0 MINUTE END AS t30
      FROM events),
    w AS (
      SELECT event_type,
             CASE WHEN k = 0 THEN t30 ELSE t30 - INTERVAL 30 MINUTE END
             AS window_start
      FROM b CROSS JOIN (SELECT UNNEST([0, 1]) AS k))
    SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM w GROUP BY window_start, event_type
    """,
)
def stream_sliding(spark, sf):
    """Sliding-window (1h every 30min) counts through the real micro-batch
    engine: each event feeds exactly 2 windows' state; watermark bounds how
    long a window's state outlives its end. Batch answer is the oracle."""
    stream = events_stream(spark, sf)
    result = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    out = run_available_now(result, spark)
    return out.withColumn("window_start", F.col("window_start").cast("timestamp_ntz"))


@query(
    "stream_static_join",
    oracle="""
    SELECT DATE_TRUNC('hour', e.ts) AS window_start, c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY DATE_TRUNC('hour', e.ts), c.c_mktsegment
    """,
)
def stream_static_join(spark, sf):
    """Stream-static enrichment join: the static dimension (customer) is
    joined inside every micro-batch — planned as a broadcast hash join, no
    stream-side state. The canonical 100 TB/day enrichment topology: only
    the windowed aggregate keeps state, bounded by the watermark."""
    from . import table

    stream = events_stream(spark, sf)
    dim = table(spark, sf, "customer")
    joined = stream.join(dim, stream.user_id == dim.c_custkey, "inner")
    result = (
        joined.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "c_mktsegment", "n_events")
    )
    out = run_available_now(result, spark)
    return out.withColumn("window_start", F.col("window_start").cast("timestamp_ntz"))


@query(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup(spark, sf):
    """Streaming exact dedup: dropDuplicates on the key columns holds one
    state entry per distinct key and emits each key's first arrival
    (append mode). Over the bounded drain this is exactly DISTINCT. In
    production the watermarked variant (dropDuplicatesWithinWatermark)
    bounds the state for unbounded streams."""
    stream = events_stream(spark, sf)
    result = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    out = run_available_now(result, spark, output_mode="append")
    return out


@query("stream_session", oracle=ORACLES["window_session"])
def stream_session(spark, sf):
    """Session windows (30-min gap) through the streaming engine's native
    session_window state — sessions merge as events arrive, watermark
    finalizes them. Drained bounded input must equal the batch
    gap-and-island answer (the window_session oracle verbatim)."""
    stream = events_stream(spark, sf)
    result = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"), "user_id", "n_events"
        )
    )
    out = run_available_now(result, spark)
    return out.withColumn(
        "session_start", F.col("session_start").cast("timestamp_ntz")
    )


@query(
    "stream_upsert_sink",
    oracle="""
    SELECT user_id, event_type AS last_event_type, ts AS last_ts, value AS last_value
    FROM (
      SELECT user_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def stream_upsert_sink(spark, sf):
    """foreachBatch upsert sink — the canonical CDC 'latest row per key'
    materialization: each micro-batch reduces to its newest row per
    user_id (event_id tiebreak), then merges into the parquet target by
    read-union-reduce-overwrite. Arbitrary sinks get exactly-once
    semantics from availableNow + checkpoint (batch id dedups replays);
    at warehouse scale the overwrite step becomes a storage-layer MERGE
    (Delta/Iceberg), but the batch-reduction topology is identical. The
    drained target equals the batch window answer — the oracle."""

    from pyspark.sql import Window

    base = scratch_dir("upsert")
    target, ckpt = f"{base}/target", f"{base}/ckpt"

    stream = events_stream(spark, sf).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest_per_key(df):
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "event_type", "ts", "value", "event_id")
        )

    def upsert(batch_df, batch_id):
        s = batch_df.sparkSession
        news = latest_per_key(batch_df)
        from pyspark.errors import AnalysisException

        try:
            cur = s.read.parquet(target)
            merged = latest_per_key(cur.unionByName(news))
        except AnalysisException as e:
            # First batch: the upsert target doesn't exist yet. Any
            # other read failure must fail the batch (ADVICE r07).
            if not is_path_not_found(e):
                raise
            merged = news
        # Stage then swap: the target can't be overwritten while being read.
        staged = f"{base}/stage_{batch_id}"
        merged.write.mode("overwrite").parquet(staged)
        s.read.parquet(staged).write.mode("overwrite").parquet(target)

    drain(stream, upsert, ckpt)
    return spark.read.parquet(target).select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
    )


@query(
    "stream_dedup_near",
    oracle="""
    WITH tok AS (SELECT doc_id,
                        regexp_split_to_array(lower(trim(text)), '\\s+') AS t
                 FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(
                    range(1, greatest(len(t) - 2, 1) + 1),
                    i -> array_to_string(t[i:i+2], ' '))) AS s
           FROM tok)
    SELECT n.doc_id AS id_new, b.doc_id AS id_base,
           len(list_intersect(n.s, b.s))
             / (len(n.s) + len(b.s) - len(list_intersect(n.s, b.s))) AS jaccard
    FROM sh n JOIN sh b ON n.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
    WHERE len(list_intersect(n.s, b.s))
            / (len(n.s) + len(b.s) - len(list_intersect(n.s, b.s))) >= 0.8
    """,
)
def stream_dedup_near(spark, sf):
    """Streaming near-dedup against a standing corpus — the ingest-time
    twin of ``dedup_incremental``: documents arrive as a stream; each
    micro-batch's new docs (doc_id % 5 = 0) are MinHash-signatured and
    probed (via foreachBatch) against the STATIC corpus LSH index built
    once before the stream starts; verified (id_new, id_base, jaccard)
    pairs land in the sink. Per-batch cost is O(batch), never O(corpus).
    Exactly-once holds because the sink is batch-id idempotent (ADVICE
    r03): each micro-batch OVERWRITES its own ``b<batch_id>``
    subdirectory, so a replay after a mid-write failure rewrites the
    same directory instead of appending duplicates — the same epoch-dir
    discipline Spark's own file sink gets from its transaction log,
    without needing the log. The drained sink equals the batch
    incremental answer — the oracle."""
    from ..operators import dedup as D
    from . import table

    docs = table(spark, sf, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    # Build + materialize the standing index once, before the stream.
    base_index = D.lsh_band_index(base).localCheckpoint()

    base_dir = scratch_dir("sdn")
    target, ckpt = f"{base_dir}/pairs", f"{base_dir}/ckpt"

    doc_schema = (
        "doc_id bigint, text string, lang string, "
        "source string, n_chars bigint"
    )
    stream = file_stream(spark, f"{sf}/documents.parquet", doc_schema)

    def probe(batch_df, batch_id):
        new = batch_df.filter(F.col("doc_id") % 5 == 0)
        pairs = D.incremental_near_dup_pairs(
            base, new, base_index=base_index, threshold=0.8
        )
        pairs.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, probe, ckpt)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema("id_new bigint, id_base bigint, jaccard double")
        .parquet(target)
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id, v.ts AS view_ts, p.ts AS purchase_ts
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark, sf):
    """Stream-stream interval join — the hardest stateful topology: views
    and purchases arrive as two independent streams, matched on user_id
    within a 30-minute event-time window. Both sides carry watermarks, so
    each side's join state is evicted once the other side's watermark
    passes the interval bound — state stays O(window × rate), not O(stream).
    Inner join in append mode; the bounded drain equals the batch interval
    join — the oracle. State partitions scoped to the ~1e3-user key
    cardinality (see stream_stateful_count's sizing rule)."""
    from pyspark.sql import functions as SF

    def side(label, event_type):
        s = events_stream(spark, sf)
        return (
            s.filter(SF.col("event_type") == event_type)
            .select(
                SF.col("event_id").alias(f"{label}_id"),
                SF.col("user_id").alias(f"{label}_user"),
                SF.col("ts").alias(f"{label}_ts"),
            )
            .withWatermark(f"{label}_ts", "1 hour")
        )

    with scoped_conf(spark, "spark.sql.shuffle.partitions", 8):
        views, purchases = side("view", "view"), side("purchase", "purchase")
        joined = views.join(
            purchases,
            SF.expr(
                "view_user = purchase_user"
                " AND purchase_ts >= view_ts"
                " AND purchase_ts <= view_ts + INTERVAL 30 MINUTES"
            ),
            "inner",
        )
        out = run_available_now(joined, spark, output_mode="append")
    return out.select(
        SF.col("view_id"),
        SF.col("purchase_id"),
        SF.col("view_user").alias("user_id"),
        SF.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        SF.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )


@query("stream_dedup_watermark", oracle=ORACLES["stream_dedup"])
def stream_dedup_watermark(spark, sf):
    """Watermark-scoped streaming dedup (dropDuplicatesWithinWatermark) —
    the UNBOUNDED-stream variant of stream_dedup: state for a key is
    evicted once the watermark passes it, so state size tracks the
    in-flight window instead of all history. With the delay covering the
    bounded drain's whole event span, every duplicate falls inside the
    watermark and the emission set is exactly DISTINCT — the batch
    oracle."""
    stream = events_stream(spark, sf)
    deduped = (
        stream.select("user_id", "event_type", "ts")
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    out = run_available_now(
        deduped.select("user_id", "event_type"), spark, output_mode="append"
    )
    return out


@query(
    "stream_ema",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, event_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events),
    rec AS (
      SELECT user_id, event_id, rn, cents, cents AS ema FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.event_id, b.rn, b.cents, (b.cents + 7 * r.ema) // 8
      FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
    SELECT user_id, event_id, CAST(ema AS BIGINT) AS ema_cents FROM rec
    """,
)
def stream_ema(spark, sf):
    """Streaming fixed-point EMA (α = 1/8) per user through the real
    micro-batch engine: applyInPandasWithState carries each user's last
    smoothed value in the state store across batches
    (:func:`..streaming.stateful.running_ema`). Ordering is by event_id
    — a representation-independent total order (ts would tie at the
    micros/nanos boundary differently per engine). Draining the bounded
    stream reproduces the batch recurrence exactly; the oracle replays
    it as a per-user recursive CTE — the integer arithmetic is what
    makes a STREAMING and a BATCH engine agree bit-for-bit, the
    batch/stream parity property Kappa-architecture pipelines rely on."""
    from ..streaming.pipeline import run_available_now
    from ..streaming.stateful import running_ema

    with scoped_conf(spark, "spark.sql.shuffle.partitions", 8):
        stream = events_stream(spark, sf).select(
            "user_id", "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        emitted = run_available_now(
            running_ema(stream, "user_id", "event_id", "cents"),
            spark,
            output_mode="update",
        )
    return emitted.select("user_id", "event_id", "ema_cents")


@query("stream_similarity_topk", oracle=NO_MISMATCHES)
def stream_similarity_topk(spark, sf):
    """Streaming ANN search against a standing PQ index — the vector twin
    of ``stream_dedup_near`` and the ingest-time shape of a 100 TB
    retrieval pipeline: query vectors arrive as a stream; each
    micro-batch ADC-scores its queries against the session's persisted
    codebooks + code table via foreachBatch (per-batch cost bounded by
    the batch's lookup table — the corpus code scan is the same linear
    pass batch search pays, and the raw vectors are never touched). The
    sink is batch-id idempotent (per-``b<batch_id>`` overwrite). The
    drained sink is diffed against the BATCH PQ answer for the same
    query set — integer-grid ADC sums make the two bit-equal, which is
    the oracle: 0 mismatches, non-vacuously."""
    from ..operators import similarity as S
    from . import table
    from .llm import shared_pq_index

    emb = table(spark, sf, "embeddings")
    cb, enc = shared_pq_index(spark, sf)

    base_dir = scratch_dir("sst")
    target, ckpt = f"{base_dir}/topk", f"{base_dir}/ckpt"
    stream = file_stream(
        spark, f"{sf}/embeddings.parquet",
        "vec_id bigint, embedding array<float>, label int",
    )

    def probe(batch_df, batch_id):
        queries = batch_df.filter(F.col("vec_id") < 10)
        out = S.cosine_topk_pq(
            emb, queries, dim=64, k=5, m=32, n_codes=32,
            codebooks=cb, encoded=enc,
        )
        out.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, probe, ckpt)
    drained = (
        spark.read.option("recursiveFileLookup", "true")
        .schema(
            "query_id bigint, neighbor_id bigint, pq_cosine double, rnk int"
        )
        .parquet(target)
    )
    batch = S.cosine_topk_pq(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, k=5, m=32, n_codes=32,
        codebooks=cb, encoded=enc,
    ).select("query_id", "neighbor_id", "pq_cosine", "rnk")
    diff = drained.exceptAll(batch).unionAll(batch.exceptAll(drained))
    return diff.agg(F.count(F.lit(1)).alias("mismatches")).crossJoin(
        F.broadcast(drained.agg((F.count(F.lit(1)) > 0).alias("nonempty")))
    )


@query(
    "stream_substring_dedup",
    oracle="""
    WITH t AS (SELECT doc_id,
                      regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    g AS (SELECT doc_id, u.i AS pos,
                 array_to_string(toks[u.i:u.i+9], ' ') AS gram
          FROM t, unnest(range(1, greatest(len(toks) - 9, 0) + 1)) AS u(i)),
    keep AS (SELECT gram FROM g WHERE doc_id % 5 <> 0 GROUP BY gram
             HAVING COUNT(DISTINCT doc_id) <= 64),
    m AS (SELECT DISTINCT n.doc_id AS id_new, b.doc_id AS id_base,
                 n.pos AS pos_new
          FROM g n JOIN g b USING (gram)
          WHERE n.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
            AND gram IN (SELECT gram FROM keep)),
    isl AS (SELECT id_new, id_base, pos_new,
                   pos_new - ROW_NUMBER() OVER (PARTITION BY id_new, id_base
                                                ORDER BY pos_new) AS grp
            FROM m),
    runs AS (SELECT id_new, id_base, COUNT(*) AS run
             FROM isl GROUP BY id_new, id_base, grp)
    SELECT id_new, id_base, CAST(SUM(run) AS BIGINT) AS n_shared_windows,
           CAST(MAX(run) + 9 AS BIGINT) AS longest_span_tokens
    FROM runs GROUP BY id_new, id_base
    """,
)
def stream_substring_dedup(spark, sf):
    """Streaming exact-substring dedup — the ingest-time twin of
    ``dedup_substring_incremental`` (every dedup family now ships batch +
    incremental + streaming forms): documents arrive as a stream; each
    micro-batch's new docs (doc_id % 5 = 0) are windowed and their gram
    hashes probe (via foreachBatch) the STATIC corpus gram index built
    once before the stream starts (``substring_gram_index`` — the
    stop-gram cap applied at build). Span merging is per (new, base)
    pair and every new doc's windows arrive in its own row, so batch
    boundaries can't split a span. Per-batch cost is O(batch windows +
    hits), never O(corpus). Exactly-once via the batch-id-idempotent
    per-``b<batch_id>`` overwrite sink (the ``stream_dedup_near``
    discipline). The drained sink equals the batch incremental answer —
    the oracle."""
    from ..operators import dedup as D
    from . import table

    docs = table(spark, sf, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    base_index = D.substring_gram_index(base, k=10, max_df=64).localCheckpoint()

    base_dir = scratch_dir("ssd")
    target, ckpt = f"{base_dir}/spans", f"{base_dir}/ckpt"

    doc_schema = (
        "doc_id bigint, text string, lang string, "
        "source string, n_chars bigint"
    )
    stream = file_stream(spark, f"{sf}/documents.parquet", doc_schema)

    def probe(batch_df, batch_id):
        new = batch_df.filter(F.col("doc_id") % 5 == 0)
        spans = D.incremental_substring_spans(
            None, new, k=10, base_index=base_index
        )
        spans.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, probe, ckpt)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema(
            "id_new bigint, id_base bigint, "
            "n_shared_windows bigint, longest_span_tokens bigint"
        )
        .parquet(target)
    )


@query(
    "stream_heavy_hitters",
    oracle=ORACLES["sketch_misra_gries_heavyhitters"],
)
def stream_heavy_hitters(spark, sf):
    """Streaming heavy hitters — the ingest-time twin of
    ``sketch_misra_gries_heavyhitters`` and the sketch family's answer
    to "what do you KEEP at 100 TB": each micro-batch's token stream
    reduces to its own ≤k-row Misra-Gries summary via foreachBatch, and
    the summaries land as per-``b<batch_id>`` parquet artifacts (replay
    OVERWRITES its own directory — batch-id idempotent, so exactly-once
    without a transaction log). The standing answer is a groupBy-sum
    MERGE of the batch sketches at read time — per-batch errors
    telescope, so the drained merge still satisfies the hard MG bound
    true − N/(k+1) ≤ estimate ≤ true over the WHOLE stream (Agarwal et
    al.'s mergeability, the property that lets per-day sketches roll up
    without raw data). The oracle probes the exact top-10 tokens and
    pins the integer-exact bound invariant, TRUE under any partitioning
    and any micro-batch split."""
    from ..operators.sketches import mg_bound_report, misra_gries_summary
    from ..operators.text import tokens_col
    from . import table

    k = 2048
    base_dir = scratch_dir("shh")
    target, ckpt = f"{base_dir}/sketches", f"{base_dir}/ckpt"
    doc_schema = (
        "doc_id bigint, text string, lang string, "
        "source string, n_chars bigint"
    )
    stream = file_stream(spark, f"{sf}/documents.parquet", doc_schema)

    def sketch_batch(batch_df, batch_id):
        toks = batch_df.select(
            F.explode(tokens_col("text")).alias("token")
        ).filter(F.col("token") != "")
        misra_gries_summary(toks, "token", k=k).write.mode(
            "overwrite"
        ).parquet(f"{target}/b{batch_id}")

    drain(stream, sketch_batch, ckpt)
    merged = (
        spark.read.option("recursiveFileLookup", "true")
        .schema("token string, mg_count bigint")
        .parquet(target)
        .groupBy("token")
        .agg(F.sum("mg_count").alias("mg_count"))
    )
    docs = table(spark, sf, "documents")
    toks = docs.select(
        F.explode(tokens_col("text")).alias("token")
    ).filter(F.col("token") != "")
    return mg_bound_report(toks, merged, k)


@query("stream_search_bm25", oracle=NO_MISMATCHES)
def stream_search_bm25(spark, sf):
    """Streaming BM25 search against a standing posting index — the
    lexical twin of ``stream_similarity_topk``, completing the
    standing-index family (LSH bands, PQ codes, substring grams,
    postings): query documents arrive as a stream; each micro-batch's
    queries (doc_id < 5) probe the STATIC posting/length/stats artifacts
    built once before the stream starts, via foreachBatch — per-batch
    cost is the batch's matched posting rows, never a corpus rescan.
    The sink is batch-id idempotent (per-``b<batch_id>`` overwrite).
    The drained sink is diffed against the batch BM25 answer for the
    same query set — the round-9/round-6 scoring is engine- and
    batching-stable, so the two are bit-equal: 0 mismatches,
    non-vacuously."""
    from ..operators.dedup import tokens_col
    from ..operators.retrieval import bm25_topk, build_postings
    from . import table

    docs = table(spark, sf, "documents")
    tf, dl, stats = build_postings(docs)
    # Materialize the standing index once, before the stream (the
    # operational shape persists these as parquet — see
    # dedup_index_roundtrip for the cross-session proof pattern).
    tf, dl, stats = (
        tf.localCheckpoint(), dl.localCheckpoint(), stats.localCheckpoint()
    )

    base_dir = scratch_dir("sbm")
    target, ckpt = f"{base_dir}/topk", f"{base_dir}/ckpt"
    doc_schema = (
        "doc_id bigint, text string, lang string, "
        "source string, n_chars bigint"
    )
    stream = file_stream(spark, f"{sf}/documents.parquet", doc_schema)

    def qterms_of(d):
        return (
            d.filter(F.col("doc_id") < 5)
            .select(
                F.col("doc_id").alias("qid"),
                F.explode(tokens_col("text")).alias("t"),
            )
            .filter(F.col("t") != "")
        )

    def probe(batch_df, batch_id):
        out = bm25_topk(
            tf, dl, stats, qterms_of(batch_df), k=5, exclude_self=True
        )
        out.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, probe, ckpt)
    drained = (
        spark.read.option("recursiveFileLookup", "true")
        .schema("qid bigint, doc_id bigint, bm25 double, rnk int")
        .parquet(target)
    )
    batch = bm25_topk(
        tf, dl, stats, qterms_of(docs), k=5, exclude_self=True
    ).select(
        F.col("qid").cast("bigint").alias("qid"), "doc_id", "bm25", "rnk"
    )
    diff = drained.exceptAll(batch).unionAll(batch.exceptAll(drained))
    return diff.agg(F.count(F.lit(1)).alias("mismatches")).crossJoin(
        F.broadcast(drained.agg((F.count(F.lit(1)) > 0).alias("nonempty")))
    )


@query("stream_search_bm25_append", oracle=NO_MISMATCHES)
def stream_search_bm25_append(spark, sf):
    """Streaming BM25 postings APPEND (round 11, VERDICT r10 task 2 —
    the per-micro-batch form of ``search_bm25_append``, completing the
    lexical leg's batch + incremental + streaming family convention):
    new documents (doc_id % 5 = 0) arrive as a stream; each micro-batch
    builds its OWN partial posting triple from its documents alone and
    lands it batch-id-idempotently (``<kind>/b<batch_id>`` overwrite —
    the vacuum-compatible artifact layout, one store per index kind).
    Because postings merge by ADDITION and the fold is associative
    (:func:`~..operators.retrieval.merge_postings`), the drained
    partials fold into the standing base index in one doc-keyed
    aggregate at read time — re-tokenizing nothing — and the merged
    index is value-identical to the single-batch append over the same
    documents: the standard query set probes both and diffs to 0
    mismatches, non-vacuously. Per-batch cost is one linear pass over
    the batch's documents; a replayed batch overwrites its own
    directories and changes nothing."""
    from ..operators.retrieval import (
        bm25_topk,
        build_postings,
        merge_postings,
    )
    from . import table

    from ..session import fan_out

    docs = table(spark, sf, "documents")

    base_dir = scratch_dir("sbm25app")
    target, ckpt = f"{base_dir}/idx", f"{base_dir}/ckpt"
    doc_schema = (
        "doc_id bigint, text string, lang string, "
        "source string, n_chars bigint"
    )
    stream = file_stream(spark, f"{sf}/documents.parquet", doc_schema)

    def land_partials(batch_df, batch_id):
        # fan_out (optimization round 12, guide §2.5): the micro-batch
        # is one file-split, so the tokenize pass otherwise runs
        # single-task; scale-conditional, per-doc results unchanged.
        new = fan_out(batch_df.filter(F.col("doc_id") % 5 == 0))
        for kind, df in zip(("tf", "dl", "stats"), build_postings(new)):
            df.write.mode("overwrite").parquet(
                f"{target}/{kind}/b{batch_id}"
            )

    # Neither the standing BASE postings nor the ledger's batch-leg
    # partials are read by the drain — both tokenize only static corpus
    # slices — so they materialize CONCURRENTLY with the stream
    # (optimization round 12, guide §2.6; values unchanged, the
    # exceptAll diff compares the same two result sets).
    def _base_leg():
        return tuple(
            df.localCheckpoint()
            for df in build_postings(
                fan_out(docs.filter(F.col("doc_id") % 5 != 0))
            )
        )

    def _new_leg():
        return tuple(
            df.localCheckpoint()
            for df in build_postings(
                fan_out(docs.filter(F.col("doc_id") % 5 == 0))
            )
        )

    base, new_partials = drain(
        stream, land_partials, ckpt, alongside=(_base_leg, _new_leg)
    )

    def drained(kind, schema):
        return (
            spark.read.option("recursiveFileLookup", "true")
            .schema(schema)
            .parquet(f"{target}/{kind}")
        )

    partials = (
        drained("tf", "doc_id bigint, t string, tf bigint")
        .groupBy("doc_id", "t").agg(F.sum("tf").alias("tf")),
        drained("dl", "doc_id bigint, dl bigint")
        .groupBy("doc_id").agg(F.sum("dl").alias("dl")),
        drained("stats", "nd double, tt double").agg(
            F.coalesce(F.sum("nd"), F.lit(0.0)).alias("nd"),
            F.coalesce(F.sum("tt"), F.lit(0.0)).alias("tt"),
        ),
    )
    qterms = spark.createDataFrame(
        [(1, "hash"), (1, "join"), (2, "vector"), (2, "scan"),
         (3, "merge"), (3, "sort"), (3, "batch")],
        "qid int, t string",
    )
    stream_res = bm25_topk(*merge_postings(base, partials), qterms, k=5)
    batch_res = bm25_topk(
        *merge_postings(base, new_partials), qterms, k=5,
    )
    diff = stream_res.exceptAll(batch_res).unionAll(
        batch_res.exceptAll(stream_res)
    )
    return diff.agg(F.count(F.lit(1)).alias("mismatches")).crossJoin(
        F.broadcast(
            stream_res.agg((F.count(F.lit(1)) > 0).alias("nonempty"))
        )
    )


_CM_DEC = "DECIMAL(38,12)"


@query(
    "stream_comoment_corr",
    oracle=f"""
    WITH s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(value AS {_CM_DEC})) AS DOUBLE) AS sx,
             CAST(SUM(CAST(CAST(user_id AS DOUBLE) AS {_CM_DEC}))
                  AS DOUBLE) AS sy,
             CAST(SUM(CAST(value * CAST(user_id AS DOUBLE) AS {_CM_DEC}))
                  AS DOUBLE) AS sxy,
             CAST(SUM(CAST(value * value AS {_CM_DEC})) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(user_id AS DOUBLE) * CAST(user_id AS DOUBLE)
                           AS {_CM_DEC})) AS DOUBLE) AS syy
      FROM events)
    SELECT CAST(n AS BIGINT) AS n_rows,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS corr_value_user
    FROM s
    """,
)
def stream_comoment_corr(spark, sf):
    """MERGEABLE STATISTICS through a stream — the foundation every
    distributed aggregate rests on, proven end-to-end: each micro-batch
    reduces to its six decimal co-moment partials (n, Σx, Σy, Σxy, Σx²,
    Σy² — constant bytes per batch), the partials append to the sink,
    and after the drain the final Pearson correlation is computed from
    the SUMMED partials. Decimal addition is exact and associative, so
    batch boundaries cannot move the answer: the oracle computes the
    same correlation in one batch pass over the full table — equality
    IS the merge ≡ rebuild proof, the property that lets a 100 TB
    aggregate run as map-side partials + one tiny merge."""
    base_dir = scratch_dir("cmom")
    target, ckpt = f"{base_dir}/partials", f"{base_dir}/ckpt"
    stream = events_stream(spark, sf)

    def reduce_batch(batch_df, batch_id):
        x = F.col("value")
        y = F.col("user_id").cast("double")
        part = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x.cast(_CM_DEC)).alias("sx"),
            F.sum(y.cast(_CM_DEC)).alias("sy"),
            F.sum((x * y).cast(_CM_DEC)).alias("sxy"),
            F.sum((x * x).cast(_CM_DEC)).alias("sxx"),
            F.sum((y * y).cast(_CM_DEC)).alias("syy"),
        )
        part.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, reduce_batch, ckpt)
    partials = (
        spark.read.option("recursiveFileLookup", "true")
        .schema(
            f"n bigint, sx {_CM_DEC}, sy {_CM_DEC}, sxy {_CM_DEC}, "
            f"sxx {_CM_DEC}, syy {_CM_DEC}"
        )
        .parquet(target)
    )
    merged = partials.agg(
        F.sum("n").cast("double").alias("n"),
        F.sum("sx").cast("double").alias("sx"),
        F.sum("sy").cast("double").alias("sy"),
        F.sum("sxy").cast("double").alias("sxy"),
        F.sum("sxx").cast("double").alias("sxx"),
        F.sum("syy").cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ) * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    return merged.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / den, 6).alias("corr_value_user"),
    )


@query(
    "stream_quality_quarantine",
    oracle="""
    WITH g AS (
      SELECT (value <= 300) AS ok_value,
             (event_type <> 'error') AS ok_type
      FROM events)
    SELECT CASE WHEN ok_value AND ok_type THEN 'clean'
                ELSE 'quarantine' END AS gate,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN NOT ok_value THEN 1 ELSE 0 END) AS BIGINT)
             AS n_value_fail,
           CAST(SUM(CASE WHEN NOT ok_type THEN 1 ELSE 0 END) AS BIGINT)
             AS n_type_fail
    FROM g GROUP BY gate
    """,
)
def stream_quality_quarantine(spark, sf):
    """STREAMING twin of `quality_quarantine_split` (r06) — the
    operational ingest gate that ROUTES rows, not just counts
    failures: every micro-batch splits on its row-level expectations
    (value ≤ 300, event_type not 'error') and lands each half through
    a per-``gate/b<batch_id>`` overwrite — the same exactly-once
    discipline as `stream_expectation_gate`, so a replayed batch
    replaces rather than duplicates its own output. The result
    aggregates a COLD read-back of BOTH partitions, re-deriving the
    expectations from round-tripped values; the oracle computes the
    identical split in one batch pass — route-then-union ≡ one-pass
    split, the merge≡rebuild contract in row-routing form. At 100 TB
    this is the gate in front of every training-data ingest: bad rows
    quarantined with the batch they arrived in, clean rows flowing on,
    nothing dropped or double-routed."""
    base_dir = scratch_dir("qsplit")
    target, ckpt = f"{base_dir}/routed", f"{base_dir}/ckpt"
    stream = events_stream(spark, sf)
    ok = (F.col("value") <= 300) & (F.col("event_type") != "error")

    def route(batch_df, batch_id):
        # Standard foreachBatch multi-sink shape: persist the routed
        # batch so the two gate writes scan the micro-batch ONCE, not
        # once per sink.
        routed = batch_df.select(
            "event_id", "event_type", "value",
            F.when(ok, "clean").otherwise("quarantine").alias("gate"),
        ).persist()
        try:
            for gate in ("clean", "quarantine"):
                routed.filter(F.col("gate") == gate).write.mode(
                    "overwrite"
                ).parquet(f"{target}/{gate}/b{batch_id}")
        finally:
            routed.unpersist()

    drain(stream, route, ckpt)
    _back_schema = (
        "event_id bigint, event_type string, value double, gate string"
    )
    # Empty-source guard (ADVICE r06): an all-empty drain writes no
    # batch dirs at all, and the recursive read of the absent target
    # raises instead of returning the zero-row frame the empty-input
    # convention requires.
    back = read_parquet_or_empty(spark, _back_schema, target, recursive=True)
    return back.groupBy("gate").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(~(F.col("value") <= 300)).alias("n_value_fail"),
        F.count_if(~(F.col("event_type") != "error")).alias("n_type_fail"),
    )


@query(
    "stream_expectation_gate",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN value IS NULL OR value < 0 OR value > 100000
                      THEN 1 ELSE 0 END) AS f_range,
             SUM(CASE WHEN event_type NOT IN
                   ('view', 'click', 'signup', 'purchase', 'error')
                      THEN 1 ELSE 0 END) AS f_domain,
             SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS f_null,
             SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS f_ts
      FROM events)
    SELECT u.expectation, s.n AS n_checked,
           CAST(u.f AS BIGINT) AS n_failed, u.f = 0 AS passed
    FROM s CROSS JOIN LATERAL (
      SELECT UNNEST(['value_range', 'type_domain', 'user_not_null',
                     'ts_not_null']) AS expectation,
             UNNEST([f_range, f_domain, f_null, f_ts]) AS f) u
    """,
)
def stream_expectation_gate(spark, sf):
    """STREAMING ingest-gate twin of `quality_expectation_suite`: each
    micro-batch reduces to its expectation-failure COUNTS (constant
    bytes per batch — counts are mergeable by addition, the same
    partial-aggregate contract as `stream_comoment_corr`), partials
    land per-batch-id in the sink, and the drained totals are the
    corpus-level audit a 100 TB pipeline alarms on. Exactly-once from
    the per-``b<batch_id>`` overwrite discipline; the oracle computes
    the same counts in one batch pass — merge ≡ rebuild."""
    base_dir = scratch_dir("expgate")
    target, ckpt = f"{base_dir}/partials", f"{base_dir}/ckpt"
    stream = events_stream(spark, sf)

    def gate(batch_df, batch_id):
        part = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("value").isNull()
                    | (F.col("value") < 0)
                    | (F.col("value") > 100000),
                    1,
                ).otherwise(0)
            ).alias("f_range"),
            F.sum(
                F.when(
                    ~F.col("event_type").isin(
                        "view", "click", "signup", "purchase", "error"
                    ),
                    1,
                ).otherwise(0)
            ).alias("f_domain"),
            F.sum(
                F.when(F.col("user_id").isNull(), 1).otherwise(0)
            ).alias("f_null"),
            F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias("f_ts"),
        )
        part.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, gate, ckpt)
    partials = (
        spark.read.option("recursiveFileLookup", "true")
        .schema(
            "n bigint, f_range bigint, f_domain bigint, "
            "f_null bigint, f_ts bigint"
        )
        .parquet(target)
    )
    tot = partials.agg(
        F.sum("n").alias("n"),
        F.sum("f_range").alias("f_range"),
        F.sum("f_domain").alias("f_domain"),
        F.sum("f_null").alias("f_null"),
        F.sum("f_ts").alias("f_ts"),
    )
    stack = (
        "stack(4, 'value_range', f_range, 'type_domain', f_domain, "
        "'user_not_null', f_null, 'ts_not_null', f_ts) "
        "AS (expectation, n_failed)"
    )
    return tot.selectExpr(stack, "n AS n_checked").select(
        "expectation",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_failed").cast("long").alias("n_failed"),
        (F.col("n_failed") == 0).alias("passed"),
    )


@query("stream_append_retrain")  # rows-only: control loop, approx recall
def stream_append_retrain(spark, sf):
    """STREAMING twin of ``similarity_append_retrain_loop`` (VERDICT
    r06 task 6) — the ANN ingest control loop at micro-batch grain:
    the stale IVF index (centroids + assignment trained on the
    pre-stream corpus, the standing artifact) is built BEFORE the
    stream starts; each micro-batch of new vectors broadcast-joins
    those standing centroids via ``ivf_assign`` — the cheap append
    path, no retrain, no corpus rescan — and lands its assignment as
    a per-``b<batch_id>`` parquet OVERWRITE (batch-id idempotent, the
    ``stream_heavy_hitters`` exactly-once discipline: a replayed
    batch replaces its own rows). The drained artifacts merge into
    the appended index, and the IDENTICAL measure→decide→ship
    machinery as the batch loop runs on it
    (``ivf_append_retrain_loop`` with the standing ``stale=`` index
    and the read-back ``appended=`` assignment): recall@5 of appended
    vs retrained against exact brute force over the grown corpus, the
    0.05 drift trigger broadcast-joined onto the tagged candidates —
    never driver-side — and the ACTIVE index ships. Drained decision
    ≡ the batch loop's decision (asserted in tests/test_streaming.py);
    at 100 TB the steady-state per-batch cost is ONE broadcast assign
    + one bounded artifact write, with the full retrain bill paid only
    when the measured drift demands it."""
    from ..operators import similarity as S
    from . import table
    from .llm import ANN_REFINE_ITERS, IVF_SPILL, shared_ivf_index

    base_dir = scratch_dir("sretrain")
    target, ckpt = f"{base_dir}/assign", f"{base_dir}/ckpt"

    emb = table(spark, sf, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    queries = emb.filter(F.col("vec_id") < 10)

    # Standing stale index: trained before the stream starts, exactly
    # the batch loop's stale build (same seeds → same centroids). Only
    # the CENTROIDS gate the stream (the per-batch assign probes them);
    # the corpus-wide stale ASSIGNMENT is read first by the post-drain
    # loop, so its checkpoint materializes CONCURRENTLY with the drain
    # (optimization round 12, guide §2.6; values unchanged — same
    # frame, same centroids).
    stale_centroids, stale_assigned = S.ivf_cells(
        base, n_cells=16, refine_iters=ANN_REFINE_ITERS,
        assign_spill=IVF_SPILL,
    )
    stale_centroids = stale_centroids.localCheckpoint()

    stream = file_stream(
        spark, f"{sf}/embeddings.parquet",
        "vec_id bigint, embedding array<float>, label int",
    ).filter(F.col("vec_id") % 5 == 0)

    def append(batch_df, batch_id):
        S.ivf_assign(
            batch_df, stale_centroids, assign_spill=IVF_SPILL
        ).write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    [stale_assigned] = drain(
        stream, append, ckpt, alongside=(stale_assigned.localCheckpoint,)
    )
    _assign_schema = "vec_id bigint, cell bigint, vector array<double>"
    # Empty-source guard (the stream_quality_quarantine convention): an
    # all-empty drain writes no batch dirs, and the read of the absent
    # target would raise instead of degrading to an empty append.
    batch_assign = read_parquet_or_empty(
        spark, _assign_schema, target, recursive=True
    )
    return S.ivf_append_retrain_loop(
        base, new, queries, k=5, n_cells=16, nprobe=4,
        refine_iters=ANN_REFINE_ITERS, assign_spill=IVF_SPILL,
        tolerance=0.05, retrained=shared_ivf_index(spark, sf),
        stale=(stale_centroids, stale_assigned),
        appended=stale_assigned.unionByName(batch_assign),
    )


@query("stream_semantic_dedup", oracle=ORACLES["dedup_semantic_incremental"])
def stream_semantic_dedup(spark, sf):
    """Streaming SemDeDup — the ingest-time twin of
    ``dedup_semantic_incremental`` (the semantic family now ships
    batch + incremental + streaming like every other dedup family):
    new vectors arrive as a stream; each micro-batch cell-assigns its
    rows with the pure-expression hyperplane bucket (no model fetch,
    no shuffle) and numpy-rectangles them against the STANDING corpus
    cell members built once before the stream starts, landing pairs
    as per-``b<batch_id>`` idempotent parquet artifacts (the
    ``stream_substring_dedup`` discipline). Pair emission is per new
    vector, so batch boundaries cannot split or duplicate a pair and
    the drained sink equals the batch incremental answer — the oracle
    (the same SQL as ``dedup_semantic_incremental``). Per-batch cost
    is O(batch·cell_members)."""
    from ..operators import similarity as S
    from . import table

    emb = table(spark, sf, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    base_cells = S.hyperplane_cells(base, dim=64, planes=2).localCheckpoint()

    base_dir = scratch_dir("ssem")
    target, ckpt = f"{base_dir}/pairs", f"{base_dir}/ckpt"
    stream = file_stream(
        spark, f"{sf}/embeddings.parquet",
        "vec_id bigint, embedding array<float>, label int",
    ).filter(F.col("vec_id") % 5 == 0)

    def probe(batch_df, batch_id):
        S.semantic_dedup_incremental(
            base, batch_df,
            base_cells,
            S.hyperplane_cells(batch_df, dim=64, planes=2),
            threshold=0.40, dim=64,
        ).write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, probe, ckpt)
    _pair_schema = "id_new bigint, id_base bigint, cosine double"
    return read_parquet_or_empty(spark, _pair_schema, target, recursive=True)


@query("stream_er_match", oracle=ORACLES["er_match_classify"])
def stream_er_match(spark, sf):
    """Streaming twin of the Fellegi–Sunter classifier — the production
    linkage topology: source-B records ARRIVE as a stream, each
    micro-batch is blocked against the STATIC reference source A
    (broadcast, no stream-side state beyond the pattern aggregate) and
    reduced into the running comparison-pattern counts; the EM-trained
    parameters come from the BATCH fit (``shared_er_params``) and score
    the drained pattern table — the stale-model serving pattern
    (stream_append_retrain's convention: train offline, serve online).
    The drained complete-mode counts provably equal the batch pattern
    frame, so the EXACT batch oracle (same CTE chain as
    ``er_match_classify``) applies unchanged. State is bounded by ≤ 2^3
    pattern rows no matter the stream length — the aggregate is the
    smallest stateful operator in the suite."""
    from .embml import (
        er_classify_frame, er_gamma, er_source_a, er_source_b,
        shared_er_params)
    from . import table

    schema = ("c_custkey bigint, c_name string, c_nationkey int, "
              "c_acctbal double, c_mktsegment string")
    stream = file_stream(spark, f"{sf}/customer.parquet", schema)
    b = er_source_b(stream)
    a = er_source_a(table(spark, sf, "customer"))
    pat = (
        er_gamma(b.join(a, "nk"))
        .select("g1", "g2", "g3",
                (F.col("id_a") == F.col("id_b")).alias("_true"))
        .groupBy("g1", "g2", "g3")
        .agg(F.count(F.lit(1)).alias("n"),
             F.count_if(F.col("_true")).alias("n_true"))
    )
    drained = run_available_now(pat, spark)
    return er_classify_frame(drained, shared_er_params(spark, sf))


def _stream_phash_oracle():
    from .llm import PHASH_HH_CTES

    return f"""
    {PHASH_HH_CTES}
    SELECT a.doc_id AS id_new, b.doc_id AS id_base,
           CAST(bit_count(xor(a.hi, b.hi))
                + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
    FROM hh a JOIN hh b
      ON a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 4
    """


@query("stream_dedup_phash", oracle=_stream_phash_oracle())
def stream_dedup_phash(spark, sf):
    """Streaming perceptual-hash image dedup — the ingest-time twin of
    ``multimodal_dedup_phash`` (the multimodal family now ships batch +
    streaming like the text dedup families): images ARRIVE as a stream
    (docs with doc_id % 7 = 0 become BMP payloads in-batch — % 7 is
    coprime with the planted % 50 group pattern, so every group
    straddles the new/base split and cross-split near-dups exist), each
    micro-batch hashes its images (16 bytes/image — pixels never leave
    the batch) and probes the STANDING dHash index of the base corpus
    (doc_id % 7 ≠ 0, built once before the stream starts) through the
    ASYMMETRIC pigeonhole chunk join — completeness for Hamming ≤ 4 by
    the same 8-chunk argument, zero index growth per batch. Exactly-once
    via the batch-id-idempotent per-``b<batch_id>`` overwrite sink (the
    stream_substring_dedup discipline). The drained sink provably equals
    the batch pairs restricted to (new, base) — the EXACT oracle replays
    the full pixel→pool→bits→hash→Hamming arithmetic for both sides."""
    from ..operators import multimodal as M
    from .llm import _bmp_fixture_payload_fn, shared_dhash_hashes

    base_hashes = (
        shared_dhash_hashes(spark, sf)
        .filter(F.col("media_id") % 7 != 0)
        .localCheckpoint()
    )
    base_dir = scratch_dir("sph")
    target, ckpt = f"{base_dir}/pairs", f"{base_dir}/ckpt"
    doc_schema = (
        "doc_id bigint, text string, lang string, "
        "source string, n_chars bigint"
    )
    stream = file_stream(spark, f"{sf}/documents.parquet", doc_schema)

    def probe(batch_df, batch_id):
        new = batch_df.filter(
            (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 600)
        ).select(
            F.col("doc_id").alias("media_id"),
            _bmp_fixture_payload_fn()("doc_id").alias("payload"),
        )
        pairs = (
            M.phash_candidate_pairs(
                M.dhash_images(new), base=base_hashes
            )
            .filter(F.col("hamming") <= 4)
            .select(
                F.col("id_a").alias("id_new"),
                F.col("id_b").alias("id_base"),
                "hamming",
            )
        )
        pairs.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, probe, ckpt)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema("id_new bigint, id_base bigint, hamming bigint")
        .parquet(target)
    )


@query("stream_quality_classifier", oracle=ORACLES["quality_classifier_score"])
def stream_quality_classifier(spark, sf):
    """Streaming twin of the LEARNED quality filter — model serving at
    ingest: documents arrive as a stream, each micro-batch featurizes
    with the IDENTICAL definition the trainer used
    (``_qcls_features_from``) and scores against the BATCH-trained
    weights compiled in as decimal literals (the stale-model serving
    pattern; no training in the hot path), emitting its confusion-cell
    partial counts to a batch-id-idempotent sink. Confusion counts are
    ADDITIVE and each document appears in exactly one micro-batch, so
    the drained sum provably equals the batch score — the EXACT batch
    oracle applies unchanged (train replay + score replay in DuckDB).
    Per-batch state: none beyond the batch itself; the weights are a
    broadcast-sized literal expression. This closes the learned-filter
    loop the way production runs it: train offline on the corpus,
    serve online on the stream, audit with the same confusion
    artifact."""
    from decimal import Decimal as _Dec

    from .llm_quality import (
        _QCLS_DEC, _qcls_features_from, _qcls_p_expr,
        shared_quality_classifier)

    w = shared_quality_classifier(spark, sf)
    p = _qcls_p_expr([F.lit(v).cast(_QCLS_DEC) for v in w])
    base_dir = scratch_dir("sqc")
    target, ckpt = f"{base_dir}/cells", f"{base_dir}/ckpt"
    doc_schema = (
        "doc_id bigint, text string, lang string, "
        "source string, n_chars bigint"
    )
    stream = file_stream(spark, f"{sf}/documents.parquet", doc_schema)

    from ..session import fan_out

    def score(batch_df, batch_id):
        # A micro-batch arrives as one file-split (often ONE partition —
        # maxFilesPerTrigger=1), so without a fan-out the whole
        # featurize+score job runs single-task regardless of cluster
        # size (guide §2.5; optimization round 12). fan_out is
        # scale-conditional: a large batch already at cluster
        # parallelism passes through untouched. Per-doc results are
        # row-independent — values unchanged.
        cells = (
            _qcls_features_from(fan_out(batch_df))
            .select(
                (p >= F.lit(_Dec("0.5")).cast(_QCLS_DEC))
                .cast("int").alias("pred_keep"),
                F.col("y").cast("int").alias("gopher_keep"),
            )
            .groupBy("pred_keep", "gopher_keep")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        cells.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, score, ckpt)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema("pred_keep int, gopher_keep int, n_docs bigint")
        .parquet(target)
        .groupBy("pred_keep", "gopher_keep")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
    )


def _stream_cc_oracle():
    # Closure over base∪(new↔base) edges: the stream probes the standing
    # corpus index, so new↔new pairs are out of scope by the
    # incremental_near_dup_pairs contract (dedup the batch first).
    return """
    WITH RECURSIVE
    sh AS (SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 2, 1) + 1),
               i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\\s+'))[i:i+2], ' ')))
           AS s FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE NOT (a.doc_id % 5 = 0 AND b.doc_id % 5 = 0)
        AND len(list_intersect(a.s, b.s))
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
    edges AS (SELECT id_a AS s, id_b AS t FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
      WHERE e.t <> r.s)
    SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id
    FROM reach GROUP BY s
    """


@query("stream_clusters_incremental", oracle=_stream_cc_oracle())
def stream_clusters_incremental(spark, sf):
    """Streaming twin of ``dedup_clusters_incremental`` (VERDICT r08
    task 2) — cluster maintenance at ingest grain: new documents
    (doc_id % 5 = 0) ARRIVE as a stream; each micro-batch signatures
    ONLY its own rows and probes the STANDING LSH band index of the
    base corpus (built once before the stream starts), landing its
    verified (id_new, id_base, jaccard) pairs as per-``b<batch_id>``
    idempotent parquet artifacts (the ``stream_substring_dedup``
    discipline — a replayed batch overwrites its own rows). Pair
    emission is per new doc against the static base, so batch
    boundaries cannot split or duplicate a pair. The drained pair set
    then updates the standing (node → root) assignment through ONE
    :func:`~..operators.dedup.incremental_components` call — union-find
    over the contracted batch graph, standing roots broadcast-patched,
    never a full-history re-scan. The oracle is the recursive-CTE
    closure over base ∪ (new↔base) edges — drained ≡ batch-incremental
    ≡ rebuild, exactly — with the family's LSH-losslessness caveat:
    the oracle brute-forces the new↔base space, so equality also
    attests no qualifying pair hit the ~2·10⁻⁴ all-bands-miss event
    on this corpus. At 100 TB: per-batch cost is the batch's
    signatures + one index equi-join; the cluster patch runs once per
    maintenance window over O(drained pairs), not history."""
    from ..operators import dedup as D
    from . import shared_jaccard_pairs, shared_shingles, table

    docs = table(spark, sf, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    sh_base = shared_shingles(spark, sf).filter(F.col("doc_id") % 5 != 0)
    idx = D.lsh_band_index(base, shingles=sh_base).localCheckpoint()

    base_dir = scratch_dir("sccinc")
    target, ckpt = f"{base_dir}/pairs", f"{base_dir}/ckpt"
    doc_schema = (
        "doc_id bigint, text string, lang string, "
        "source string, n_chars bigint"
    )
    stream = file_stream(spark, f"{sf}/documents.parquet", doc_schema).filter(
        F.col("doc_id") % 5 == 0
    )

    from ..session import fan_out

    def probe(batch_df, batch_id):
        # fan_out (optimization round 12, guide §2.5): the micro-batch
        # is one file-split, so its shingle pass otherwise runs
        # single-task; scale-conditional, per-doc results unchanged.
        D.incremental_near_dup_pairs(
            base, fan_out(batch_df), base_index=idx, threshold=0.8,
            base_shingles=sh_base,
        ).write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    # The STANDING assignment reads only the memoized base pair set —
    # independent of the drain — so its checkpointed CC materializes
    # CONCURRENTLY with the stream (optimization round 12, guide §2.6).
    # The shuffle-partition count rides into connected_components via
    # parts= (labels are partition-layout-invariant by the CC contract),
    # so the drain never observes a mutated session conf.
    def _standing_leg():
        pairs = shared_jaccard_pairs(spark, sf)
        base_pairs = pairs.filter(
            (F.col("id_a") % 5 != 0) & (F.col("id_b") % 5 != 0)
        )
        return (
            D.connected_components(
                base_pairs.select("id_a", "id_b"), parts=4
            )
            .select(
                F.col("id_a").alias("node"),
                F.col("cluster_id").alias("root"),
            )
            .localCheckpoint()
        )

    [standing] = drain(stream, probe, ckpt, alongside=(_standing_leg,))
    drained = read_parquet_or_empty(
        spark, "id_new bigint, id_base bigint, jaccard double",
        target, recursive=True,
    )
    return D.incremental_components(
        standing,
        drained.select(
            F.col("id_new").alias("id_a"), F.col("id_base").alias("id_b")
        ),
    ).select(F.col("node").alias("doc_id"), "cluster_id")


def _stream_afp_oracle():
    from .llm import _AFP_BINS, _AFP_DOCS, _AFP_GROUPS, _AFP_SM_SQL

    return f"""
    WITH d AS (SELECT doc_id, doc_id % {_AFP_GROUPS} AS g
               FROM documents WHERE doc_id < {_AFP_DOCS}),
    s AS (SELECT doc_id, g, {_AFP_SM_SQL} AS sm FROM d),
    wht AS (
      SELECT doc_id, g, f.f AS frame,
             list_transform(range(1, {_AFP_BINS + 1}), k ->
               list_sum(list_transform(range(0, 64), n ->
                 sm[f.f * 64 + n + 1]
                 * (1 - 2 * (bit_count(CAST(k AS BIGINT)
                             & CAST(n AS BIGINT)) % 2))))) AS xs
      FROM s, (SELECT UNNEST(range(0, 2)) AS f) f),
    pw AS (SELECT doc_id, g, frame,
                  list_transform(xs, x -> x * x) AS ps FROM wht),
    pk AS (
      SELECT doc_id, g, frame,
             list_position(ps, list_max(ps)) AS peak,
             list_position(
               list_transform(range(1, {_AFP_BINS + 1}), i ->
                 CASE WHEN i = list_position(ps, list_max(ps))
                      THEN -1 ELSE ps[i] END),
               list_max(list_transform(range(1, {_AFP_BINS + 1}), i ->
                 CASE WHEN i = list_position(ps, list_max(ps))
                      THEN -1 ELSE ps[i] END))) AS runner
      FROM pw),
    fp AS (
      SELECT doc_id, g,
             SUM(CASE WHEN frame = 0
                      THEN peak * 1000000 + runner * 10000
                      ELSE peak * 100 + runner END) AS fp_hash
      FROM pk GROUP BY doc_id, g)
    SELECT a.doc_id AS id_new, b.doc_id AS id_base,
           CAST(a.fp_hash AS BIGINT) AS fp_hash
    FROM fp a JOIN fp b
      ON a.fp_hash = b.fp_hash
     AND a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
    """


@query("stream_audio_fingerprint", oracle=_stream_afp_oracle())
def stream_audio_fingerprint(spark, sf):
    """Streaming perceptual AUDIO dedup — the ingest-time twin of
    ``multimodal_audio_fingerprint`` (VERDICT r08 task 4: images got
    both the blocking-report row and the streaming twin in r8; this
    closes the audio side): clips ARRIVE as a stream (docs with
    doc_id % 7 = 0 become genuine RIFF/WAVE payloads in-batch — % 7 is
    coprime with the planted % 12 group pattern, so every group
    straddles the new/base split and cross-split matches exist), each
    micro-batch decodes + WHT-fingerprints ONLY its own clips (8
    bytes/clip — samples never leave the batch) and probes the
    STANDING constellation-hash index of the base corpus
    (doc_id % 7 ≠ 0, ``shared_afp_hashes`` built once before the
    stream starts) through the hash equi-join — zero index growth per
    batch. Exactly-once via the batch-id-idempotent per-``b<batch_id>``
    overwrite sink (the ``stream_dedup_phash`` discipline). The
    drained sink provably equals the batch pairs restricted to
    (new, base) — the EXACT oracle replays WAV bytes → int16 → WHT →
    peak order → hash → join arithmetically for both sides."""
    from ..operators import multimodal as M  # noqa: F401 (decode inside)
    from .llm import (
        _AFP_DOCS,
        _AFP_GROUPS,
        _wav_fixture_payload_fn,
        afp_fingerprints,
        shared_afp_hashes,
    )

    base_fp = (
        shared_afp_hashes(spark, sf)
        .filter(F.col("media_id") % 7 != 0)
        .select(
            F.col("media_id").alias("id_base"),
            F.col("fp_hash").alias("fp_hash"),
        )
        .localCheckpoint()
    )
    base_dir = scratch_dir("safp")
    target, ckpt = f"{base_dir}/pairs", f"{base_dir}/ckpt"
    doc_schema = (
        "doc_id bigint, text string, lang string, "
        "source string, n_chars bigint"
    )
    stream = file_stream(spark, f"{sf}/documents.parquet", doc_schema)

    def probe(batch_df, batch_id):
        media = batch_df.filter(
            (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < _AFP_DOCS)
        ).select(
            F.col("doc_id").alias("media_id"),
            (F.col("doc_id") % _AFP_GROUPS).alias("g"),
            _wav_fixture_payload_fn()("doc_id").alias("payload"),
        )
        pairs = (
            afp_fingerprints(media)
            .join(base_fp, "fp_hash")
            .select(
                F.col("media_id").alias("id_new"), "id_base",
                F.col("fp_hash").cast("long").alias("fp_hash"),
            )
        )
        pairs.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, probe, ckpt)
    return read_parquet_or_empty(
        spark, "id_new bigint, id_base bigint, fp_hash bigint",
        target, recursive=True,
    )


@query("stream_kmv_sketch", oracle=ORACLES["sketch_kmv_distinct"])
def stream_kmv_sketch(spark, sf):
    """Streaming KMV distinct sketch — the operational face of the r09
    mergeable rewrite (VERDICT r08 task 1): order rows ARRIVE as a
    stream; each micro-batch runs the SAME per-partition k-min partial
    (:func:`~..operators.sketches.kmin_values`) over only its own rows
    and lands its ≤ k-per-group sketch as a per-``b<batch_id>``
    idempotent parquet artifact (the ``stream_heavy_hitters``
    exactly-once discipline). The drained partials merge by ONE
    k-min-of-union aggregate — the property
    ``test_kmin_values_merge_equals_rebuild`` proves for any split, so
    drained ≡ batch ≡ the exact oracle, bit for bit, including the
    (k−1)·2³²/u_k estimate. This is precisely how a production sketch
    is operated: per-day/per-source k-min files merged without ever
    re-touching raw history; per-batch state is k integers per group
    and the merge reads ≤ k·batches rows per group."""
    from ..operators.sketches import kmin_values
    from .core_ext import _KMV_K, _KMV_MOD
    from . import table

    base_dir = scratch_dir("skmv")
    target, ckpt = f"{base_dir}/partials", f"{base_dir}/ckpt"
    stream = file_stream(
        spark, f"{sf}/orders.parquet",
        "o_custkey bigint, o_orderpriority string",
    )

    def partial(batch_df, batch_id):
        h = batch_df.select(
            "o_orderpriority",
            F.pmod(
                F.col("o_custkey") * F.lit(2654435761) + 12345,
                F.lit(_KMV_MOD),
            ).alias("u"),
        )
        kmin_values(h, ["o_orderpriority"], "u", _KMV_K).select(
            "o_orderpriority", F.explode("kmin").alias("u")
        ).write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, partial, ckpt)
    drained = read_parquet_or_empty(
        spark, "o_orderpriority string, u bigint", target, recursive=True
    )
    sk = drained.groupBy("o_orderpriority").agg(
        F.slice(
            F.array_sort(F.array_distinct(F.collect_list("u"))), 1, _KMV_K
        ).alias("kmin")
    )
    kth = (
        sk.filter(F.size("kmin") >= _KMV_K)
        .select(
            "o_orderpriority",
            F.element_at("kmin", _KMV_K).alias("kth_min"),
        )
    )
    truth = table(spark, sf, "orders").groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("true_distinct")
    )
    est = F.round((_KMV_K - 1) * F.lit(float(_KMV_MOD)) / F.col("kth_min"))
    return (
        kth.join(truth, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("kth_min").cast("long").alias("kth_min"),
            est.cast("long").alias("est_distinct"),
            F.col("true_distinct").cast("long").alias("true_distinct"),
            F.round(
                F.abs(est - F.col("true_distinct"))
                / F.col("true_distinct"), 4,
            ).alias("rel_err"),
        )
    )


def _stream_fence_oracle():
    from .spatial import _PIP_CROSS_SQL, _PIP_DIRS_SQL, _PIP_N, _XC, _YC

    return f"""
    WITH pts AS (
      SELECT event_id, {_XC.format(k="event_id")} AS px,
             {_YC.format(k="event_id")} AS py
      FROM events),
    dirs AS (SELECT * FROM ({_PIP_DIRS_SQL}) AS t(k, dx, dy)),
    verts AS (
      SELECT p.pid, d.k,
             (p.pid * 37199) % 80000 + 10000
               + d.dx * (8000 + ((p.pid * 31 + d.k * 17) % 8) * 1000) AS vx,
             (p.pid * 63839) % 80000 + 10000
               + d.dy * (8000 + ((p.pid * 31 + d.k * 17) % 8) * 1000) AS vy
      FROM (SELECT UNNEST(range(0, {_PIP_N})) AS pid) p, dirs d),
    edges AS (
      SELECT a.pid, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
      FROM verts a JOIN verts b
        ON b.pid = a.pid AND b.k = (a.k + 1) % {_PIP_N}),
    crossings AS (
      SELECT event_id, pid,
             SUM(CASE WHEN {_PIP_CROSS_SQL} THEN 1 ELSE 0 END) AS nc
      FROM pts, edges GROUP BY 1, 2)
    SELECT CAST(pid AS BIGINT) AS polygon_id, event_id
    FROM crossings WHERE nc % 2 = 1
    """


@query("stream_geo_fence", oracle=_stream_fence_oracle())
def stream_geo_fence(spark, sf):
    """Streaming GEOFENCE — the ingest-time twin of ``geo_polygon_join``
    and the geo family's first streaming entry (every other operator
    family already ships one): events ARRIVE as a stream, each
    micro-batch derives its points (the suite's deterministic planar
    fixture keyed on event_id) and runs the SAME grid-bucketed
    broadcast containment join against the static polygon fences —
    per-batch cost is O(batch + candidates·edges), the fences are a
    broadcast dimension, and no state accumulates stream-side (a
    containment event depends only on its own row, so batch boundaries
    cannot split or duplicate one). Exactly-once via the
    batch-id-idempotent per-``b<batch_id>`` overwrite sink. The oracle
    brute-forces every event × every edge with the identical int64
    ray-cast — drained ≡ batch, exactly. This is the fleet/geofence
    alerting shape: polygons change rarely (re-broadcast), position
    streams are unbounded."""
    from .spatial import _XC, _YC, polygon_contains

    base_dir = scratch_dir("sfence")
    target, ckpt = f"{base_dir}/hits", f"{base_dir}/ckpt"
    stream = file_stream(spark, f"{sf}/events.parquet", "event_id bigint")

    def fence(batch_df, batch_id):
        pts = batch_df.select(
            "event_id",
            F.expr(_XC.format(k="event_id")).alias("px"),
            F.expr(_YC.format(k="event_id")).alias("py"),
        )
        polygon_contains(spark, pts, "event_id").write.mode(
            "overwrite"
        ).parquet(f"{target}/b{batch_id}")

    drain(stream, fence, ckpt)
    return read_parquet_or_empty(
        spark, "polygon_id bigint, event_id bigint", target, recursive=True
    )


@query("stream_forget_cascade", oracle=ORACLES["privacy_forget_cascade"])
def stream_forget_cascade(spark, sf):
    """Streaming twin of ``privacy_forget_cascade`` — deletion requests
    ARRIVE as a stream (the real GDPR topology: a requests queue, not a
    batch sweep): each micro-batch extracts its forget-set slice
    (c_custkey % 53 = 0), walks the FK chain for ONLY those subjects
    (semi joins against static orders/lineitem — per-batch cost is
    proportional to the batch's subjects, AQE broadcasts the tiny key
    sets at runtime), and lands its per-table purge counts as a
    per-``b<batch_id>`` idempotent artifact. Purge sets of distinct
    subjects are DISJOINT (an order has one customer; a lineitem one
    order), so the drained per-table sums provably equal the batch
    sweep — the exact oracle is ``privacy_forget_cascade``'s, unchanged.
    Kept counts fold in the static table totals at drain. At 100 TB
    this is the deletion-ledger pattern: requests amortize continuously
    instead of a monthly corpus-wide sweep, and the ledger itself is
    the compliance artifact."""
    from . import table

    base_dir = scratch_dir("sforget")
    target, ckpt = f"{base_dir}/counts", f"{base_dir}/ckpt"
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf, "lineitem").select("l_orderkey")
    cust_schema = (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )
    stream = file_stream(spark, f"{sf}/customer.parquet", cust_schema)

    def audit(batch_df, batch_id):
        forget = batch_df.filter(F.col("c_custkey") % 53 == 0).select(
            "c_custkey"
        )
        purged_o = o.join(
            forget, o["o_custkey"] == forget["c_custkey"], "left_semi"
        ).select("o_orderkey")
        purged_li = li.join(
            purged_o, li["l_orderkey"] == purged_o["o_orderkey"], "left_semi"
        )
        row = (
            forget.agg(F.count(F.lit(1)).alias("c"))
            .crossJoin(purged_o.agg(F.count(F.lit(1)).alias("po")))
            .crossJoin(purged_li.agg(F.count(F.lit(1)).alias("pl")))
            .selectExpr(
                "stack(3, 'customer', c, 'orders', po, 'lineitem', pl) "
                "AS (table_name, n_purged)"
            )
        )
        row.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, audit, ckpt)
    drained = read_parquet_or_empty(
        spark, "table_name string, n_purged bigint", target, recursive=True
    ).groupBy("table_name").agg(F.sum("n_purged").alias("n_purged"))
    c = table(spark, sf, "customer")
    totals = (
        c.agg(F.count(F.lit(1)).alias("n_total"))
        .selectExpr("'customer' AS table_name", "n_total")
        .unionByName(
            o.agg(F.count(F.lit(1)).alias("n_total"))
            .selectExpr("'orders' AS table_name", "n_total")
        )
        .unionByName(
            li.agg(F.count(F.lit(1)).alias("n_total"))
            .selectExpr("'lineitem' AS table_name", "n_total")
        )
    )
    return (
        totals.join(drained, "table_name", "left")
        .select(
            "table_name",
            F.coalesce(F.col("n_purged"), F.lit(0)).cast("long")
            .alias("n_purged"),
            (F.col("n_total") - F.coalesce(F.col("n_purged"), F.lit(0)))
            .cast("long").alias("n_kept"),
        )
    )


@query(
    "stream_artifact_vacuum",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS c FROM documents)
    SELECT 'drained_rows' AS check_name, CAST(c AS BIGINT) AS n_rows FROM n
    UNION ALL SELECT 'post_vacuum_rows', CAST(c AS BIGINT) FROM n
    UNION ALL SELECT 'revacuum_extra_rows', CAST(0 AS BIGINT)
    UNION ALL SELECT 'replay_extra_rows', CAST(0 AS BIGINT)
    UNION ALL SELECT 'file_count_reduced', CAST(1 AS BIGINT)
    """,
)
def stream_artifact_vacuum(spark, sf):
    """Streaming-artifact RETENTION (round 10, VERDICT r09 task 8): every
    foreachBatch twin lands per-``b<batch_id>`` parquet dirs that
    accumulate forever; this entry drives the vacuum op
    (:func:`~..streaming.pipeline.vacuum_batch_artifacts`) end to end
    and pins its whole contract in one exact-oracled ledger. A real
    4-micro-batch drained stream (documents resharded to 4 source
    files, maxFilesPerTrigger=1, the twins' idempotent per-batch
    overwrite sink) lands b0..b3; the vacuum compacts batches ≤
    watermark 1 into one coalesced partition. Ledger rows, all
    oracle-pinned: the drained row count (≡ COUNT(documents) — the
    landing loses nothing), the post-vacuum count (≡ the same —
    compaction is LOSSLESS), re-vacuum extra rows = 0 (IDEMPOTENT), the
    extra rows after REPLAYING an already-compacted batch (the
    crash-recovery case: the idempotent sink rewrites identical content
    under the same batch id) and re-vacuuming = 0 (the per-batch origin
    tag dedupes the fold), and file_count_reduced = 1 (the compacted
    store holds fewer files than the dirs it merged — structural:
    coalesce(1) over ≥2 one-file batch dirs). The five counts collected
    driver-side are five scalars — bounded by construction."""
    import glob

    from ..streaming.pipeline import (
        read_batch_artifacts,
        vacuum_batch_artifacts,
    )
    from . import table

    docs = table(spark, sf, "documents")
    base_dir = scratch_dir("svac")
    src, target = f"{base_dir}/src", f"{base_dir}/art"
    ckpt = f"{base_dir}/ckpt"
    docs.select("doc_id", "n_chars", "source").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    schema = "doc_id bigint, n_chars bigint, source string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def land(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, land, ckpt)

    def n_files():
        return len(
            glob.glob(f"{target}/**/part-*.parquet", recursive=True)
        )

    n_drained = read_batch_artifacts(spark, target).count()
    pre_files = n_files()
    # Capture b1 before it is vacuumed away — the replay simulation
    # rewrites exactly what the idempotent sink would after a crash.
    b1 = spark.read.parquet(f"{target}/b1").localCheckpoint()
    vacuum_batch_artifacts(spark, target, watermark=1)
    n_post = read_batch_artifacts(spark, target).count()
    post_files = n_files()
    vacuum_batch_artifacts(spark, target, watermark=1)
    n_re = read_batch_artifacts(spark, target).count()
    b1.write.mode("overwrite").parquet(f"{target}/b1")
    vacuum_batch_artifacts(spark, target, watermark=1)
    n_replay = read_batch_artifacts(spark, target).count()
    rows = [
        ("drained_rows", n_drained),
        ("post_vacuum_rows", n_post),
        ("revacuum_extra_rows", n_re - n_post),
        ("replay_extra_rows", n_replay - n_post),
        ("file_count_reduced", 1 if post_files < pre_files else 0),
    ]
    return spark.createDataFrame(rows, "check_name string, n_rows long")


@query("stream_eval_contamination", oracle=NO_MISMATCHES)
def stream_eval_contamination(spark, sf):
    """INGEST-TIME contamination gate (round 11 — the streaming twin of
    ``eval_contamination_report``): once an eval set is frozen, every
    newly ingested document must be checked against it BEFORE it can
    poison the training mix. The standing eval gram set (each
    doc_id % 101 = 0 item's first-25-token 10-grams — bounded, built
    once, broadcast) is probed by each micro-batch's own 10-grams;
    per-batch flags (doc_id, n_eval_hits with self-source matches
    excluded) land batch-id-idempotently. Per-doc results depend only
    on the doc and the static eval grams, so batch boundaries cannot
    change them: the drained sink diffs against the same gate run in
    one batch — 0 mismatches, non-vacuously. Per-batch cost is the
    batch's own tokenize + one broadcast equi-join; the corpus never
    rescans."""
    from ..operators.dedup import ngram_windows, tokens_col
    from . import table

    docs = table(spark, sf, "documents")
    toks = tokens_col("text")

    eval_grams = (
        docs.filter(F.col("doc_id") % 101 == 0)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.explode(
                ngram_windows(F.slice(toks, 1, 25), 10)
            ).alias("g"),
        )
        .localCheckpoint()
    )

    from ..session import fan_out

    def gate(batch_df):
        # One verdict row PER DOCUMENT (hits coalesced to 0): a gate
        # that only emits positives produces a legitimately-empty sink
        # on a clean corpus, which would make the drained ≡ batch
        # check vacuous.
        # fan_out (optimization round 12, guide §2.5): a micro-batch
        # arrives as one file-split, so the tokenize+explode otherwise
        # runs single-task; scale-conditional, row-independent per doc.
        batch_df = fan_out(batch_df)
        bg = batch_df.select(
            "doc_id",
            F.explode(ngram_windows(tokens_col("text"), 10)).alias("g"),
        )
        hits = (
            bg.join(F.broadcast(eval_grams), "g")
            .filter(F.col("doc_id") != F.col("eval_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("_h"))
        )
        return (
            batch_df.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("_h", F.lit(0)).cast("long")
                .alias("n_eval_hits"),
            )
        )

    base_dir = scratch_dir("sevalc")
    target, ckpt = f"{base_dir}/flags", f"{base_dir}/ckpt"
    doc_schema = (
        "doc_id bigint, text string, lang string, "
        "source string, n_chars bigint"
    )
    stream = file_stream(spark, f"{sf}/documents.parquet", doc_schema)

    def land(batch_df, batch_id):
        gate(batch_df).write.mode("overwrite").parquet(
            f"{target}/b{batch_id}"
        )

    # The ledger's batch leg reads only the static corpus and the
    # standing eval grams — independent of the drain — so it
    # materializes CONCURRENTLY with the stream (optimization round 12,
    # guide §2.6, the stream_knn_graph_* shape; values unchanged, the
    # exceptAll diff compares the same two result sets).
    def _batch_leg():
        return gate(docs).localCheckpoint()

    [batch] = drain(stream, land, ckpt, alongside=(_batch_leg,))
    drained = read_parquet_or_empty(
        spark, "doc_id bigint, n_eval_hits bigint", target, recursive=True
    )
    diff = drained.exceptAll(batch).unionAll(batch.exceptAll(drained))
    return diff.agg(F.count(F.lit(1)).alias("mismatches")).crossJoin(
        F.broadcast(
            drained.agg((F.count(F.lit(1)) > 0).alias("nonempty"))
        )
    )


@query(
    "stream_artifact_forget",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS c FROM documents),
         f AS (SELECT COUNT(*) AS c FROM documents WHERE doc_id % 53 = 0)
    SELECT 'post_purge_rows' AS check_name,
           CAST(n.c - f.c AS BIGINT) AS n_rows FROM n, f
    UNION ALL SELECT 'forgotten_rows_left', CAST(0 AS BIGINT)
    UNION ALL SELECT 'replay_resurrected_rows', CAST(0 AS BIGINT)
    UNION ALL SELECT 'revacuum_extra_rows', CAST(0 AS BIGINT)
    """,
)
def stream_artifact_forget(spark, sf):
    """Forget-aware RETENTION (round 11, VERDICT r10 task 8 — the
    composition of ``privacy_forget_index`` with
    ``stream_artifact_vacuum``): right-to-be-forgotten must also work
    on the per-``b<batch_id>`` artifact layout the streaming twins
    land, where the idempotent sink can REPLAY a batch dir containing
    the original (purged) rows after a crash. The vacuum op takes a
    forget-key frame: purged rows are anti-joined out of the
    compaction AND recorded in a persisted cumulative TOMBSTONE store
    that (a) every later vacuum re-applies — a replayed batch folds in
    without resurrecting a purged row — and (b)
    ``read_batch_artifacts`` applies read-side, so the drained VIEW is
    purged immediately even while a replayed raw dir still sits on
    disk. Ledger, all oracle-pinned by key arithmetic: post-purge
    drained rows = COUNT(documents) − COUNT(forgotten); zero forgotten
    rows anywhere in the drained view; zero rows resurrected by
    replaying an already-purged batch (checked BEFORE the next vacuum
    — the read-side guarantee — and the re-vacuum then physically
    re-purges it); re-vacuum extra rows = 0 (idempotent under the
    standing tombstones)."""
    from ..streaming.pipeline import (
        read_batch_artifacts,
        vacuum_batch_artifacts,
    )
    from . import table

    docs = table(spark, sf, "documents")
    base_dir = scratch_dir("sforg")
    src, target = f"{base_dir}/src", f"{base_dir}/art"
    ckpt = f"{base_dir}/ckpt"
    docs.select("doc_id", "n_chars", "source").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    schema = "doc_id bigint, n_chars bigint, source string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def land(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    drain(stream, land, ckpt)

    forget = docs.filter(F.col("doc_id") % 53 == 0).select("doc_id")
    # Capture b1's ORIGINAL content (incl. soon-to-be-purged rows) —
    # the replay simulation rewrites exactly what the idempotent sink
    # would after a crash that predates the purge.
    b1 = spark.read.parquet(f"{target}/b1").localCheckpoint()
    vacuum_batch_artifacts(spark, target, watermark=10, forget=forget)
    post = read_batch_artifacts(spark, target).localCheckpoint()
    n_post = post.count()
    n_left = post.join(F.broadcast(forget), "doc_id", "left_semi").count()
    b1.write.mode("overwrite").parquet(f"{target}/b1")
    n_replay_extra = (
        read_batch_artifacts(spark, target).count() - n_post
    )
    vacuum_batch_artifacts(spark, target, watermark=10)
    n_re_extra = read_batch_artifacts(spark, target).count() - n_post
    rows = [
        ("post_purge_rows", n_post),
        ("forgotten_rows_left", n_left),
        ("replay_resurrected_rows", n_replay_extra),
        ("revacuum_extra_rows", n_re_extra),
    ]
    return spark.createDataFrame(rows, "check_name string, n_rows long")


@query(
    "stream_knn_graph_probe",
    oracle="""
    WITH q AS (SELECT COUNT(*) AS c FROM embeddings WHERE vec_id % 5 = 0)
    SELECT CAST(c AS BIGINT) AS n_queries,
           CAST(5 * c AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM q
    """,
)
def stream_knn_graph_probe(spark, sf):
    """Streaming twin of the graph-ANN search (round 10): new vectors
    (vec_id % 5 = 0) ARRIVE as a stream and each micro-batch probes the
    STANDING base-corpus NN-descent graph + IVF cells (both built once
    before the stream starts) via
    :func:`~..operators.similarity.cosine_topk_graph`, landing its
    top-5 per query as per-``b<batch_id>`` idempotent parquet artifacts
    (the family's overwrite discipline — and the layout
    ``stream_artifact_vacuum`` retains). Per-query results depend only
    on the query vector and the static index, so batch boundaries
    cannot change them: the ledger's n_mismatch compares the DRAINED
    sink against the same search run in one batch over all new vectors
    — 0 by construction, with n_queries pinned by the oracle's key
    arithmetic and n_rows = 5·n_queries (every query's candidate pool
    — 10 IVF entries + two k=10 graph hops over the 400+-vector base —
    exceeds k at every SF). At 100 TB each batch pays one broadcast of
    its own query rows against the standing index; the graph never
    rebuilds."""
    from ..operators import similarity as S
    from . import table
    from .llm import shared_base_knn_graph

    emb = table(spark, sf, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    cells, graph = shared_base_knn_graph(spark, sf, k=10)

    base_dir = scratch_dir("sknng")
    target, ckpt = f"{base_dir}/topk", f"{base_dir}/ckpt"
    stream = file_stream(
        spark, f"{sf}/embeddings.parquet",
        "vec_id bigint, embedding array<float>, label int",
    ).filter(F.col("vec_id") % 5 == 0)

    from ..session import fan_out

    def probe(batch_df, batch_id):
        # fan_out (optimization round 12, guide §2.5): the micro-batch
        # is one file-split, so the query-side scoring legs otherwise
        # run single-task; scale-conditional, per-query results
        # unchanged.
        S.cosine_topk_graph(
            base, fan_out(batch_df), graph=graph, cells=cells,
            k=5, nprobe=4, hops=2, entry_cap=10,
        ).write.mode("overwrite").parquet(f"{target}/b{batch_id}")

    # The ledger's batch leg reads only the standing graph/cells and the
    # static new-vector table — independent of the drain — so it
    # materializes CONCURRENTLY with the stream (optimization round 11,
    # guide §2.6, the stream_knn_graph_append shape; values unchanged,
    # the full_outer diff still compares the same two result sets).
    def _batch_leg():
        return S.cosine_topk_graph(
            base, emb.filter(F.col("vec_id") % 5 == 0), graph=graph,
            cells=cells, k=5, nprobe=4, hops=2, entry_cap=10,
        ).localCheckpoint()

    [batch_mode] = drain(stream, probe, ckpt, alongside=(_batch_leg,))
    drained = read_parquet_or_empty(
        spark,
        "query_id bigint, neighbor_id bigint, cosine double, rnk int",
        target, recursive=True,
    )
    cmp_cols = ["query_id", "neighbor_id", "rnk", "cosine"]
    mism = (
        drained.select(*cmp_cols).withColumn("_a", F.lit(1))
        .join(
            batch_mode.select(
                "query_id", "neighbor_id",
                F.col("rnk").cast("int").alias("rnk"), "cosine",
            ).withColumn("_b", F.lit(1)),
            cmp_cols, "full_outer",
        )
        .agg(
            F.count_if(F.col("_a").isNotNull()).cast("long")
            .alias("n_rows"),
            F.count_if(
                F.col("_a").isNull() | F.col("_b").isNull()
            ).alias("n_mismatch"),
        )
    )
    nq = drained.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries")
    )
    return nq.crossJoin(mism).select("n_queries", "n_rows", "n_mismatch")


@query(
    "stream_knn_graph_append",
    oracle="""
    WITH q AS (SELECT COUNT(*) AS c FROM embeddings WHERE vec_id % 5 = 0)
    SELECT CAST(c AS BIGINT) AS n_new_nodes,
           CAST(0 AS BIGINT) AS n_mismatch,
           CAST(1 AS BIGINT) AS degree_bound_ok
    FROM q
    """,
)
def stream_knn_graph_append(spark, sf):
    """Streaming twin of the graph APPEND (round 11, VERDICT r10 task 4
    — completing the family convention: batch build + incremental
    append + streaming): new vectors (vec_id % 5 = 0) arrive as a
    stream; each micro-batch runs the graph-augmented search of ITS OWN
    rows against the STANDING base graph + cells and lands the
    resulting out-edge lists as per-``b<batch_id>`` idempotent parquet
    artifacts (the vacuum-compatible layout — a replayed batch
    overwrites its own rows). Per-query results depend only on the
    query vector and the static index, so the DRAINED edge set is
    value-identical to the one-shot search over all new vectors; the
    maintenance window then applies the shared reverse touched-only
    patch (:func:`~..operators.similarity.knn_graph_patch`) ONCE over
    the drained edges — the ledger diffs the resulting graph against
    the batch path's (same search in one batch + same patch): 0
    mismatches, every new node present (key arithmetic), no node over
    k out-edges. New↔new edges are out of scope by the streaming
    contract (the ``stream_clusters_incremental`` convention: dedup
    the batch first / route cross-batch new↔new through the batch
    append at the maintenance window). At 100 TB each batch pays one
    broadcast of its own query rows; the patch is O(drained·k) with
    two broadcast passes over the standing graph — history never
    rebuilds."""
    from ..operators import similarity as S
    from . import table
    from .llm import shared_base_knn_graph

    emb = table(spark, sf, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    new_all = emb.filter(F.col("vec_id") % 5 == 0)
    k = 10
    cells, graph = shared_base_knn_graph(spark, sf, k=k)

    base_dir = scratch_dir("sknnga")
    target, ckpt = f"{base_dir}/edges", f"{base_dir}/ckpt"
    stream = file_stream(
        spark, f"{sf}/embeddings.parquet",
        "vec_id bigint, embedding array<float>, label int",
    ).filter(F.col("vec_id") % 5 == 0)

    from ..session import fan_out

    def land_edges(batch_df, batch_id):
        # fan_out (optimization round 12, guide §2.5): the micro-batch
        # is one file-split, so the query-side scoring legs otherwise
        # run single-task; scale-conditional, per-query results
        # unchanged.
        S.cosine_topk_graph(
            base, fan_out(batch_df), graph=graph, cells=cells,
            k=k, nprobe=4, hops=2, entry_cap=2 * k,
        ).select("query_id", "neighbor_id", "cosine").write.mode(
            "overwrite"
        ).parquet(f"{target}/b{batch_id}")

    # The ledger's BATCH leg reads only the standing graph/cells and
    # the static new-vector table — independent of the drain — so its
    # one-shot search materializes CONCURRENTLY with the stream
    # (optimization round 11, guide §2.6: overlap independent eager
    # work; values unchanged, the full_outer diff still compares the
    # same two edge sets).
    def _batch_leg():
        return S.cosine_topk_graph(
            base, new_all, graph=graph, cells=cells,
            k=k, nprobe=4, hops=2, entry_cap=2 * k,
        ).select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"), "cosine",
        ).localCheckpoint()

    [batch_out] = drain(stream, land_edges, ckpt, alongside=(_batch_leg,))
    drained = read_parquet_or_empty(
        spark, "query_id bigint, neighbor_id bigint, cosine double",
        target, recursive=True,
    ).select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"), "cosine",
    ).localCheckpoint()
    final_stream = S.knn_graph_patch(graph, drained, new_all, k=k)
    final_batch = S.knn_graph_patch(graph, batch_out, new_all, k=k)

    cmp_cols = ["vec_id", "neighbor_id", "rnk", "cosine"]
    mism = (
        final_stream.select(*cmp_cols).withColumn("_a", F.lit(1))
        .join(
            final_batch.select(*cmp_cols).withColumn("_b", F.lit(1)),
            cmp_cols, "full_outer",
        )
        .agg(
            F.count_if(
                F.col("_a").isNull() | F.col("_b").isNull()
            ).alias("n_mismatch")
        )
    )
    nn = (
        final_stream.join(
            F.broadcast(new_all.select("vec_id")), "vec_id", "left_semi"
        )
        .select("vec_id").distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_nodes"))
    )
    deg_ok = (
        final_stream.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("_d"))
        .agg((F.max("_d") <= k).cast("long").alias("degree_bound_ok"))
    )
    return nn.crossJoin(mism).crossJoin(deg_ok).select(
        "n_new_nodes", "n_mismatch", "degree_bound_ok"
    )
