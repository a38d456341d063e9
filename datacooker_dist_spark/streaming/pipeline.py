"""Structured Streaming pipelines (build plan M3 / SURVEY §2.B).

The engine's streaming surface: file-source readStream → event-time windowed
aggregation with watermark-driven late-data policy → sink. Batch parity is
testable because a watermarked windowed count over a bounded source processed
with the ``availableNow`` trigger emits exactly the batch answer once the
stream drains (no data is late relative to a watermark that only advances
between micro-batches that have already included it).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_counts(
    stream: DataFrame,
    ts: str,
    duration: str,
    keys: list[str],
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time tumbling-window counts with a late-data watermark.

    Rows older than (max event time − watermark) are dropped once the state
    for their window is evicted — the knob that bounds state size on an
    unbounded stream (at 100 TB/day the watermark IS the memory budget).
    """
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(ts, duration).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), *keys, "n_events")
    )


def run_available_now(
    result: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Drain a bounded stream through the real micro-batch engine into a
    memory sink and return the materialized result (test/driver harness
    path; production would writeStream to parquet/kafka with checkpointing)."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def drain(stream: DataFrame, batch_fn, ckpt: str, *, alongside=()) -> list:
    """Drain a bounded stream through ``foreachBatch(batch_fn)`` with its
    checkpoint at ``ckpt`` and the ``availableNow`` trigger.

    Each callable in ``alongside`` runs on its own thread while the
    stream drains (:func:`..session.concurrently`, with the stream as
    leg 0, so it also starts under the conf lock); their results come
    back in order once both the stream and every leg are done. If the
    stream fails, its error is raised first; a leg's error surfaces only
    after a successful drain. ``batch_fn`` counts as a leg, so it may
    not enter ``scoped_conf``."""
    from ..session import as_leg, concurrently

    def run_stream():
        (
            stream.writeStream.foreachBatch(as_leg(batch_fn))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    legs = [run_stream, *alongside]
    return concurrently(stream.sparkSession, legs, len(legs))[1:]


def file_stream(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream over a parquet directory (one file per
    micro-batch). A single-file path is wrapped in a temp symlink directory
    (the streaming source only accepts directories)."""
    import hashlib
    import os
    import tempfile

    if os.path.isfile(path):
        d = os.path.join(
            tempfile.gettempdir(),
            "dds_stream_" + hashlib.md5(path.encode()).hexdigest()[:12],
        )
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(path))
        if not os.path.exists(link):
            os.symlink(path, link)
        path = d
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def _recover_compacted_stores(target: str) -> None:
    """Crash-recovery sweep over a per-batch artifact layout: restore
    any ``compacted_w*__old`` backup whose swapped-in replacement never
    landed (rename it back into place), drop backups made redundant by
    a completed swap, and clear incomplete ``__tmp`` rewrites (their
    inputs are still intact, so the next vacuum simply redoes them).
    Every step keeps at least one readable copy of previously compacted
    rows on disk (ADVICE r10, non-atomic-swap fix)."""
    import glob
    import os
    import shutil

    stores = glob.glob(f"{target}/compacted_w*__old") + glob.glob(
        f"{target}/forgotten__old"
    )
    for old in stores:
        base = old[: -len("__old")]
        if os.path.isdir(base):
            shutil.rmtree(old)
        else:
            os.rename(old, base)
    for tmp in glob.glob(f"{target}/compacted_w*__tmp") + glob.glob(
        f"{target}/forgotten__tmp"
    ):
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)


def _forgotten_store_dir(target: str) -> str | None:
    """The readable tombstone store under a target, if any: the base
    ``forgotten`` dir, else its ``__old`` backup when a swap crashed
    mid-flight (read-only recovery, same contract as the compacted
    stores)."""
    import os

    base = f"{target}/forgotten"
    if os.path.isdir(base):
        return base
    if os.path.isdir(base + "__old"):
        return base + "__old"
    return None


def _swap_dir(tmp: str, base: str) -> None:
    """Crash-safe directory swap: rename the old store aside, the
    rewrite into place, then drop the backup — a readable copy exists
    at every step (:func:`_recover_compacted_stores` repairs
    leftovers)."""
    import os
    import shutil

    if os.path.isdir(base):
        os.rename(base, base + "__old")
    os.rename(tmp, base)
    if os.path.isdir(base + "__old"):
        shutil.rmtree(base + "__old")


def _compacted_store_dirs(target: str) -> list:
    """All readable compacted stores under a target, ANY watermark —
    base dirs plus ``__old`` backups whose base is missing (the
    mid-swap crash window). ``__tmp`` rewrites are never readable."""
    import glob
    import os

    dirs = []
    for d in sorted(glob.glob(f"{target}/compacted_w*")):
        if not os.path.isdir(d) or d.endswith("__tmp"):
            continue
        if d.endswith("__old"):
            if not os.path.isdir(d[: -len("__old")]):
                dirs.append(d)
        else:
            dirs.append(d)
    return dirs


def vacuum_batch_artifacts(
    spark: SparkSession,
    target: str,
    watermark: int,
    forget: DataFrame | None = None,
) -> None:
    """RETENTION/COMPACTION for the per-``b<batch_id>`` artifact layout
    every foreachBatch twin lands (round 10, VERDICT r09 task 8): merge
    drained batch directories with batch_id ≤ ``watermark`` — plus ALL
    previously compacted stores, whatever watermark they were built
    under — into ONE compacted partition (``compacted_w<watermark>``),
    then remove the merged batch dirs and the superseded stores.
    Without this the idempotent epoch-dir sink accumulates one
    directory per micro-batch forever; folding every existing
    ``compacted_w*`` store (not just the same-watermark one) is what
    keeps the replay contract when the watermark ADVANCES between runs
    (ADVICE r10: a batch replayed after being compacted under an older
    watermark must fold into the new store, not duplicate).

    Lossless and idempotent by construction: every merged row is tagged
    with its origin batch id (``_vac_batch``, parsed from the dir name;
    the compacted store keeps the column), and the merge dedupes on the
    FULL tagged row — so re-running the vacuum is a no-op, and a batch
    REPLAYED after its dir was already compacted (the crash-recovery
    case: the idempotent sink rewrites identical content under the same
    batch id) folds back in without duplicating a single row. Contract:
    artifacts are row-distinct within one batch (true of every twin —
    they emit keyed aggregates/pairs), matching the per-batch overwrite
    discipline. The rewrite is the ``compact_small_files`` shape — a
    narrow coalesce, no shuffle; at warehouse scale the target file
    count derives from bytes/target_file_size and the swap uses the
    FileSystem rename API (local os ops here). The swap itself keeps a
    readable copy at every step: the old store is renamed aside
    (``__old``), the rewrite renamed into place, and only then is the
    backup deleted — a crash anywhere leaves data recoverable by
    :func:`_recover_compacted_stores` (run on entry here and honoured
    read-only by :func:`read_batch_artifacts`).

    ``forget`` (round 11, VERDICT r10 task 8 — right-to-be-forgotten on
    the per-batch layout): a key frame whose columns are a subset of
    the artifact's; its rows are anti-joined out of the compaction AND
    recorded additively in a persisted TOMBSTONE store
    (``<target>/forgotten``, same crash-safe swap). Every later vacuum
    re-applies the cumulative tombstones — so a batch dir REPLAYED
    after its content was purged (the idempotent sink rewriting the
    ORIGINAL rows) folds in WITHOUT resurrecting a purged row — and
    :func:`read_batch_artifacts` applies them read-side, so the drained
    VIEW is purged immediately, even for still-raw batch dirs outside
    the compaction window (their physical files purge when the
    watermark reaches them). Purge is idempotent: re-vacuuming with the
    same (or no) forget set changes nothing."""
    import glob
    import os
    import shutil
    from functools import reduce

    _recover_compacted_stores(target)
    # Cumulative tombstones: existing store ∪ this call's forget keys,
    # persisted first so the purge survives a crash mid-compaction.
    forg_dir = f"{target}/forgotten"
    existing = _forgotten_store_dir(target)
    tombstones = None
    if forget is not None:
        new_keys = forget.distinct()
        if existing is not None:
            prior = spark.read.parquet(existing)
            if set(prior.columns) != set(new_keys.columns):
                # A narrower key would broaden earlier purges (and vice
                # versa) — silently reconciling the schemas over- or
                # under-deletes. The tombstone key is part of the
                # store's contract; fail loudly instead.
                raise ValueError(
                    "forget key columns "
                    f"{sorted(new_keys.columns)} do not match the "
                    f"standing tombstone store's {sorted(prior.columns)}"
                )
            new_keys = prior.unionByName(
                new_keys.select(*prior.columns)
            ).distinct()
        new_keys.coalesce(1).write.mode("overwrite").parquet(
            forg_dir + "__tmp"
        )
        _swap_dir(forg_dir + "__tmp", forg_dir)
        tombstones = spark.read.parquet(forg_dir)
    elif existing is not None:
        tombstones = spark.read.parquet(existing)
    comp = f"{target}/compacted_w{watermark}"
    batch_dirs = sorted(
        d for d in glob.glob(f"{target}/b[0-9]*")
        if os.path.isdir(d)
        and int(os.path.basename(d)[1:]) <= watermark
    )
    comp_dirs = _compacted_store_dirs(target)
    parts = [
        spark.read.parquet(d).withColumn(
            "_vac_batch", F.lit(int(os.path.basename(d)[1:]))
        )
        for d in batch_dirs
    ] + [spark.read.parquet(d) for d in comp_dirs]
    if not parts:
        return
    merged = reduce(DataFrame.unionByName, parts).distinct()
    if tombstones is not None:
        merged = merged.join(
            F.broadcast(tombstones), tombstones.columns, "left_anti"
        )
    tmp = f"{comp}__tmp"
    # Read-before-overwrite: the compacted stores feed their own
    # rewrite, so land in a temp dir and swap via rename.
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    _swap_dir(tmp, comp)
    for d in comp_dirs:
        if d != comp and os.path.isdir(d):
            shutil.rmtree(d)
    for d in batch_dirs:
        shutil.rmtree(d)


def read_batch_artifacts(spark: SparkSession, target: str) -> DataFrame:
    """The DRAINED view of a per-batch artifact layout, before or after
    any vacuum: remaining ``b<id>`` dirs ∪ compacted stores, deduped on
    the batch-tagged row (origin tag dropped afterwards) — the frame
    every consumer of a twin's sink reads. The tagged-row dedupe makes
    the VIEW replay-safe too, not just the vacuum fold: a batch dir
    rewritten by the idempotent sink after its content was already
    compacted contributes no duplicate rows even before the next vacuum
    runs. ``__old`` backups are read only when their swapped-in
    replacement is missing (mid-swap crash) — read-only recovery; the
    next vacuum repairs the layout on disk. Raises a clear error when
    the target holds no artifacts at all (the schema is unknowable)."""
    import glob
    import os
    from functools import reduce

    parts = []
    for d in sorted(glob.glob(f"{target}/b[0-9]*")):
        if os.path.isdir(d):
            parts.append(
                spark.read.parquet(d).withColumn(
                    "_vac_batch",
                    F.lit(int(os.path.basename(d)[1:])),
                )
            )
    for d in _compacted_store_dirs(target):
        parts.append(spark.read.parquet(d))
    if not parts:
        raise FileNotFoundError(
            f"no batch artifacts (b<id>/ or compacted_w*/) under {target}"
        )
    out = (
        reduce(DataFrame.unionByName, parts).distinct().drop("_vac_batch")
    )
    # Persisted tombstones (landed by a forget-aware vacuum) apply
    # read-side, so a purged row never reappears in the drained view —
    # not even from a raw batch dir the idempotent sink replayed after
    # the purge (round 11, VERDICT r10 task 8).
    forg = _forgotten_store_dir(target)
    if forg is not None:
        tomb = spark.read.parquet(forg)
        out = out.join(F.broadcast(tomb), tomb.columns, "left_anti")
    return out
