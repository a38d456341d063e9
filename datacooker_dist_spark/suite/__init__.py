"""Query suite: the driver-facing contract surface.

Each operator from SURVEY.md §2.B registers a (spark, sf_dir) → DataFrame
callable and (where SQL-expressible) a DuckDB oracle string producing the
same column names and values. ``__spark_entry__.py`` re-exports these.
"""

from __future__ import annotations

import functools
import inspect
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import scoped_conf  # noqa: F401  (re-exported)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: Oracle of the self-checking queries that compare a result against its
#: own rebuild and report the mismatch count.
NO_MISMATCHES = "SELECT CAST(0 AS BIGINT) AS mismatches, TRUE AS nonempty"


def query(name: str, oracle: str | None = None):
    """Register a suite query and optionally its DuckDB oracle SQL."""

    def deco(fn):
        if name in QUERIES:
            # A silent overwrite ships DEAD CODE: the later import wins,
            # the shadowed query never runs, and both authors think
            # theirs is registered (r09: a second snapshot_diff rode
            # green for a commit because the incumbent also passed).
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(already registered by {QUERIES[name].__module__})"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def session_key(spark: SparkSession) -> str:
    """Stable identity for the suite's session-memo caches: the Spark
    applicationId is unique per SparkContext (timestamped in local mode)
    and — unlike ``id(spark)`` (ADVICE r03) — can never be recycled by a
    later session after the first is stopped and GC'd, so a stale cache
    entry can't be served to a fresh session that happens to reuse the
    same CPython object address."""
    return spark.sparkContext.applicationId


#: The session memo: ``(getter, session_key, *bound args) -> value``.
_MEMO: dict = {}
_MEMO_LOCKS: dict = {}
_MEMO_LOCKS_GUARD = threading.Lock()


def memo(fn):
    """Memoize a session-scoped build ``fn(spark, ...)``.

    The key is the getter, ``session_key(spark)`` and the remaining
    arguments bound to ``fn``'s signature with defaults applied, so
    ``g(spark, sf)`` and ``g(spark, sf, <the defaults>)`` share one
    entry. A hit is a plain dict lookup with no lock. A miss takes a
    lock for that key only: concurrent first touches of one key build
    once, builds of different keys run at the same time, and a build
    may call other memo getters (jaccard pairs -> LSH candidates ->
    shingles). Memo builds must not form a cycle."""
    sig = inspect.signature(fn)
    name = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def getter(spark, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        key = (name, session_key(spark), *list(bound.arguments.values())[1:])
        if key in _MEMO:
            return _MEMO[key]
        with _MEMO_LOCKS_GUARD:
            lock = _MEMO_LOCKS.setdefault(key, threading.Lock())
        with lock:
            if key not in _MEMO:
                _MEMO[key] = fn(spark, *args, **kwargs)
        return _MEMO[key]

    return getter


@memo
def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a synthetic table; the DataFrame (lazy plan root) is memoized
    per (session, path) so parquet footer/schema inference happens once per
    table instead of once per query."""
    if name == "events":
        return read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@memo
def shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized cached shingle rows over ``documents`` — the dedup
    family (MinHash LSH, exact Jaccard, SimHash-adjacent, clustering) all
    consume the same (doc_id, _sh) pass, so shingling + its persist happen
    once per session instead of once per query."""
    from ..operators import dedup as D
    from ..session import fan_out

    # Fan the scan out first (optimization round 11, guide §2.5):
    # the tokenize + posexplode feeding the shingle window runs
    # BEFORE the window's exchange, i.e. single-task on the bench's
    # one-row-group documents file. (The r03 note that an up-front
    # repartition measured slower predates the split of tokenize
    # cost from window cost; the A/B now shows the fan-out winning
    # — the raw-text shuffle it adds is a few hundred KB.)
    return D.shingle_rows(
        fan_out(table(spark, sf_dir, "documents")),
        cache=True,
    )


# Stop-bucket cap for every SHIPPED LSH candidate path (VERDICT r03 task
# 3): buckets larger than this are dropped, bounding any single bucket's
# pair fanout at LSH_MAX_BUCKET² — the skew guard that keeps candidate
# generation linear when a degenerate bucket (boilerplate/empty/template
# text) shows up at corpus scale. 512 is ~128× the largest bucket
# observed on the synthetic corpus (max 4 at sf0.1, p99.9 = 3), so at
# test scales the cap provably drops nothing —
# asserted by ``tests/test_operators.py::test_lsh_default_cap_lossless``
# — while still bounding a 100 TB degenerate bucket at ~262k pairs
# instead of quadratic blowup. Pass ``max_bucket=None`` explicitly for
# uncapped oracle-baseline comparisons.
LSH_MAX_BUCKET = 512


@memo
def shared_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized banded-MinHash LSH candidate pairs (id_a < id_b,
    64 hashes × 16 bands) over ``documents``, stop-bucket-capped at
    ``LSH_MAX_BUCKET``. Whether a pair shares a band bucket depends only
    on the two documents' own signatures, so ANY doc-subset restriction
    can be applied as a post-filter on this one set
    (``dedup_edit_distance`` filters it to its bounded slice) instead of
    re-running the signature + bucket join per consumer."""
    from ..operators import dedup as D

    return D.minhash_lsh_candidates(
        table(spark, sf_dir, "documents"),
        num_hashes=64,
        bands=16,
        shingles=shared_shingles(spark, sf_dir),
        max_bucket=LSH_MAX_BUCKET,
    ).localCheckpoint()


@memo
def shared_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized VERIFIED near-dup pairs over ``documents``:
    banded-MinHash LSH candidates → exact 3-gram Jaccard ≥ 0.8, i.e.
    (id_a, id_b, jaccard). Three suite consumers (pair listing,
    cluster building, per-source dup-rate reporting) need exactly this
    set, so it materializes once per session via localCheckpoint (the
    pair set is tiny — O(dups), not O(corpus)) instead of re-running
    the candidate join + verification per query."""
    from ..operators import dedup as D

    docs = table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs,
        shared_lsh_candidates(spark, sf_dir),
        threshold=0.8,
        shingles=shared_shingles(spark, sf_dir),
    ).localCheckpoint()


EVENTS_RAW_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, "
    "event_type string, value double, props string"
)


def scratch_dir(tag: str) -> str:
    """Process-scoped scratch directory, removed at interpreter exit.

    Suite queries that materialize intermediate files (adapter roundtrips,
    partitioned rewrites, streaming checkpoints) must allocate through
    here so repeated bench/test runs don't accumulate orphaned copies of
    the tables on disk (ADVICE r01)."""
    import atexit
    import shutil
    import tempfile
    import uuid

    d = tempfile.mkdtemp(prefix=f"dds_{tag}_{uuid.uuid4().hex[:6]}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def is_path_not_found(exc: Exception) -> bool:
    """True iff an AnalysisException is Spark's missing-path error
    (condition ``PATH_NOT_FOUND``) — the ONLY read failure the
    empty-source read-back convention is allowed to swallow."""
    cond = getattr(exc, "getCondition", None) or getattr(
        exc, "getErrorClass", None
    )
    name = None
    if cond is not None:
        try:
            name = cond()
        except Exception:
            name = None
    return name == "PATH_NOT_FOUND" or "PATH_NOT_FOUND" in str(exc)


def read_parquet_or_empty(
    spark: SparkSession, schema: str, path: str, recursive: bool = False
) -> DataFrame:
    """Read a parquet directory with an explicit schema, degrading ONLY a
    missing path to the zero-row frame. ADVICE r07 narrowed this from a
    bare ``except Exception``: a genuine read failure (permissions,
    corrupt footer, schema mismatch) must fail loudly, not silently
    report zero rows. The missing-path case is legitimate by the
    empty-input convention — an all-empty streaming drain or zero-row
    batch source writes no files at all."""
    from pyspark.errors import AnalysisException

    reader = spark.read.schema(schema)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if is_path_not_found(e):
            return spark.createDataFrame([], schema)
        raise


def enable_nanos_as_long(spark: SparkSession) -> None:
    """Turn on ``spark.sql.legacy.parquet.nanosAsLong`` — INTENTIONALLY
    session-global and never restored: reads are lazy, so the conf must
    still hold whenever a downstream job executes the scan, and a
    try/finally restore would race it. The conf only affects parquet
    columns physically typed TIMESTAMP(NANOS), which Spark otherwise
    refuses to read at all (PARQUET_TYPE_ILLEGAL), and every nanos read in
    this engine funnels through :func:`read_events` /
    ``streaming.events_stream``, which both expect the int64 form."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read ``events.parquet`` with ``ts`` normalized to TIMESTAMP_NTZ.

    Handles both generator vintages: ``ts`` stored as TIMESTAMP(MICROS)
    (read directly) or as TIMESTAMP(NANOS), which Spark's vectorized reader
    rejects — read raw int64 nanoseconds and floor-divide to microseconds
    (exactly DuckDB's nanos → micros truncation)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ts_type = str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type)
    if ts_type == "timestamp[ns]":
        enable_nanos_as_long(spark)
        df = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(
            f"{sf_dir}/events.parquet"
        )
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


from . import (  # noqa: E402,F401
    analytics,
    core,
    core_ext,
    embml,
    graph,
    insights,
    llm,
    llm_ext,
    llm_quality,
    mlprep,
    relational_ext,
    relational_q4,
    relational_q5,
    spatial,
    stats,
    streaming,
    subqueries,
)
