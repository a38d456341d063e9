"""Deduplication operators for training-data pipelines (build plan M4).

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup — all expressed with
JVM-side built-ins (no Python UDFs in the hot path):

- MinHash signatures are one hash aggregate of seed-salted ``xxhash64``
  minima over shingle hashes — whole-stage codegen, no pyspark.ml vector
  conversion cost.
- LSH banding turns the O(n²) pair space into one aggregate keyed by
  (band, bhash): at 100 TB the candidate generation is ONE shuffle keyed
  by band buckets; only bucket-mates are paired.
- Exact-Jaccard verification runs on candidates only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_PATTERN = "\\s+"


def tokens_col(text_col: str = "text"):
    """Whitespace tokenization of lowercased text (engine-wide convention)."""
    return F.split(F.lower(F.trim(F.col(text_col))), TOKEN_PATTERN)


def ngram_windows(arr, n: int):
    """Distinct word n-gram windows over a TOKEN-ARRAY column — the
    array-input core of :func:`shingles_col`, shared by the
    contamination audit and its streaming twin so the window
    definition (including the short-input clamp to one partial gram)
    has one source of truth."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(arr) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(arr, i + 1, n))
    )
    return F.array_distinct(grams)


def shingles_col(text_col: str = "text", n: int = 3):
    """Distinct word n-gram shingles as strings."""
    return ngram_windows(tokens_col(text_col), n)


def shingle_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_partitions: int | None = None,
    cache: bool = False,
    keep_pos: bool = False,
) -> DataFrame:
    """(id, _sh[, _pos]) — one row per word n-gram occurrence.

    Built with posexplode + window ``lead`` instead of array higher-order
    functions: HOFs (transform/slice) run interpreted per element and
    measured ~6× slower than this codegen pipeline. Semantics match
    :func:`shingles_col`: docs with ≥n tokens yield only full n-grams;
    shorter docs yield their single partial gram (concat_ws drops the null
    leads). With ``cache=True`` persists MEMORY_AND_DISK so LSH candidate
    generation and exact verification share one pass."""
    tok = docs.select(
        F.col(id_col), F.posexplode(tokens_col(text_col)).alias("_pos", "_t")
    )
    if num_partitions:
        tok = tok.repartition(num_partitions, id_col)
    w = Window.partitionBy(id_col).orderBy("_pos")
    leads = [F.lead("_t", i).over(w) for i in range(1, shingle_n)]
    size = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    out = (
        tok.select(
            F.col(id_col),
            F.concat_ws(" ", F.col("_t"), *leads).alias("_sh"),
            F.col("_pos"),
            size.alias("_sz"),
        )
        .filter(F.col("_pos") <= F.greatest(F.col("_sz") - shingle_n, F.lit(0)))
        .select(*([id_col, "_sh", "_pos"] if keep_pos else [id_col, "_sh"]))
    )
    if cache:
        from pyspark import StorageLevel

        out = out.persist(StorageLevel.MEMORY_AND_DISK)
    return out


def shingle_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_partitions: int | None = None,
    cache: bool = False,
    rows: DataFrame | None = None,
) -> DataFrame:
    """(id, _sh: array<string>) distinct-shingle table (collect_set over
    :func:`shingle_rows`; set semantics match the oracle's list_distinct)."""
    r = rows if rows is not None else shingle_rows(
        docs, id_col, text_col, shingle_n, num_partitions
    )
    sh = r.groupBy(id_col).agg(F.collect_set("_sh").alias("_sh"))
    if cache:
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    return sh


def minhash_signature_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    num_partitions: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, _m0.._m{n-1}) MinHash signature table.

    Plan shape: explode shingles → ``num_hashes`` seed-salted xxhash64 min
    aggregations in ONE hash aggregate keyed by doc id. The agg is a
    pipeline barrier, so each signature is computed exactly once (an
    array-lambda formulation gets its projection collapsed into every
    downstream band expression and recomputed bands× — measured 100×
    slower). ``num_partitions`` spreads CPU-heavy hashing when the input
    arrives in few partitions (e.g. one small parquet file)."""
    sh = shingles if shingles is not None else shingle_rows(
        docs, id_col, text_col, shingle_n, num_partitions
    )
    # Hash the variable-length shingle string ONCE, then derive the
    # num_hashes families by re-hashing the fixed 8-byte long with a seed
    # column — string hashing is the expensive part; long hashing is cheap
    # and stays ANSI-safe (no wraparound arithmetic).
    # The aggregates are SQL text: 3 py4j round trips each instead of ~29
    # for the Column-API form, with the same expressions (so the same
    # hashes).
    hashed = sh.select(id_col, F.xxhash64("_sh").alias("_h"))
    return hashed.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64(_h, {s})) AS _m{s}") for s in range(num_hashes)]
    )


def lsh_band_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    num_partitions: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The banded MinHash LSH INDEX of a corpus: (id, band, bhash) rows —
    each document explodes into ``bands`` rows keyed by (band_id,
    xxhash64(band's min-hashes)). This is the persistable artifact of the
    dedup family: write it as a parquet table once and every later batch
    probes it (see :func:`incremental_near_dup_pairs`) instead of
    re-signaturing the whole corpus. Deterministic given the fixed
    xxhash64 seed family, so an index built by any engine/partitioning
    vintage stays probe-compatible."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature_table(
        docs, id_col, text_col, num_hashes, shingle_n, num_partitions, shingles
    )
    structs = ", ".join(
        f"named_struct('band', {b}, 'bhash', xxhash64("
        + ", ".join(f"_m{b * rows_per_band + j}" for j in range(rows_per_band))
        + "))"
        for b in range(bands)
    )
    return sig.select(id_col, F.expr(f"inline(array({structs}))"))


def cap_bucket_size(
    banded: DataFrame,
    max_bucket: int,
    keys: tuple[str, str] = ("band", "bhash"),
) -> DataFrame:
    """Drop LSH buckets with more than ``max_bucket`` index rows — the
    standard stop-bucket mitigation for candidate-pair skew: a degenerate
    bucket of B members (boilerplate, empty strings, template text)
    matches every probe row of its bucket B times in the index join of
    :func:`incremental_near_dup_pairs`, which is THE way a linear LSH plan
    goes quadratic at 100 TB. Members of an oversized bucket are so
    common that they pair far beyond any useful dup set; dropping the
    bucket trades that recall tail (docs agreeing ONLY in stop-buckets)
    for a hard per-bucket bound. One row count per bucket over a window
    (its buffer spills to disk, so a huge bucket is dropped without being
    held in memory), then a filter; the output stays hash-partitioned on
    ``keys``. Both LSH candidate paths cap through this function, so one
    rule (rows per bucket) decides which buckets they drop."""
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return (
        banded.withColumn("_n", n).filter(F.col("_n") <= max_bucket).drop("_n")
    )


def oversized_buckets(
    banded: DataFrame,
    max_bucket: int,
    keys: tuple[str, str] = ("band", "bhash"),
) -> DataFrame:
    """Audit companion to :func:`cap_bucket_size`: the buckets a cap of
    ``max_bucket`` WOULD drop, with their member counts — run this (one
    aggregate, no self-join) to see what recall tail a production cap
    trades away before committing to it. Empty at the suite's default cap
    on the synthetic corpus (max observed bucket: 4 at sf0.1), which is
    what makes the shipped default provably lossless there."""
    return (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > max_bucket)
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    num_partitions: int | None = None,
    shingles: DataFrame | None = None,  # shingle_rows form: (id, _sh) rows
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash LSH:
    ONE aggregate of :func:`lsh_band_index` on (band, bhash) collects each
    bucket's ids, and exploding that list twice yields only bucket-mates.
    The index is read once, so its signature aggregate runs once; shuffle
    volume is bands×docs rows — linear, never quadratic. Buckets with
    fewer than 2 or (when ``max_bucket`` is set) more than ``max_bucket``
    members are dropped: :func:`cap_bucket_size` drops the oversized ones
    before any ids are collected, so any bucket contributes at most
    max_bucket² pairs and holds at most max_bucket ids. An uncapped
    bucket's ids sit in one array row, so ``max_bucket`` stays the guard
    at corpus scale (recommended there)."""
    banded = lsh_band_index(
        docs, id_col, text_col, num_hashes, bands, shingle_n,
        num_partitions, shingles,
    )
    if max_bucket is not None:
        banded = cap_bucket_size(banded, max_bucket)
    return (
        banded.groupBy("band", "bhash")
        .agg(F.collect_list(id_col).alias("_ids"))
        .filter(F.size("_ids") >= 2)
        .select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def incremental_near_dup_pairs(
    base_docs: DataFrame,
    new_docs: DataFrame,
    base_index: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    base_shingles: DataFrame | None = None,
    new_shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup: probe a NEW batch of documents against an
    EXISTING corpus's LSH index — the operational shape at 100 TB, where
    re-signaturing the whole corpus per ingest batch is the real cost.
    ``base_shingles``/``new_shingles`` (shingle_rows form) let callers
    reuse an already-materialized shingle pass for the index build and
    verification instead of re-tokenizing.
    ``max_bucket`` caps INDEX-side bucket sizes (stop-bucket skew guard,
    :func:`cap_bucket_size`) so one degenerate bucket can't fan a probe
    row out corpus-wide.

    ``base_index`` is a previously materialized :func:`lsh_band_index`
    table (pass None to derive it from ``base_docs`` — correct but pays
    the full-index build this call). Only the new batch is signatured;
    candidates come from an equi-join of the new batch's band rows
    against the index on (band, bhash), so shuffle volume is
    O(bands×new + matched index rows) — independent of corpus size when
    the index join is bucket-pruned/broadcast by the planner. Exact
    3-gram Jaccard verification then touches only candidate documents on
    the base side (semi-join-restricted shingle build), never the corpus.

    Output: (id_new, id_base, jaccard ≥ threshold) — new docs that
    near-duplicate something already in the corpus (the drop/link list).
    New-vs-new duplicates are out of scope here by design: dedup the
    batch itself first, then probe.
    """
    if base_index is None:
        base_index = lsh_band_index(
            base_docs, id_col, text_col, num_hashes, bands, shingle_n,
            shingles=base_shingles,
        )
    if max_bucket is not None:
        base_index = cap_bucket_size(base_index, max_bucket)
    probe = lsh_band_index(
        new_docs, id_col, text_col, num_hashes, bands, shingle_n,
        shingles=new_shingles,
    )
    cand = (
        probe.alias("n")
        .join(
            base_index.alias("b"),
            on=[
                F.col("n.band") == F.col("b.band"),
                F.col("n.bhash") == F.col("b.bhash"),
                # a doc present in both vintages is not its own near-dup
                F.col(f"n.{id_col}") != F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"n.{id_col}").alias("id_new"),
            F.col(f"b.{id_col}").alias("id_base"),
        )
        .distinct()
    )
    new_sets = shingle_table(
        new_docs, id_col, text_col, shingle_n, rows=new_shingles
    ).select(F.col(id_col).alias("id_new"), F.col("_sh").alias("_shn"))
    # Base-side shingles only for candidate docs: the semi join keeps the
    # verification scan proportional to candidates, not corpus size.
    hit_ids = cand.select(F.col("id_base").alias(id_col)).distinct()
    if base_shingles is not None:
        base_rows = base_shingles.join(hit_ids, id_col, "left_semi")
        base_sets = shingle_table(
            base_docs, id_col, text_col, shingle_n, rows=base_rows
        ).select(F.col(id_col).alias("id_base"), F.col("_sh").alias("_shb"))
    else:
        base_hit = base_docs.join(hit_ids, id_col, "left_semi")
        base_sets = shingle_table(
            base_hit, id_col, text_col, shingle_n
        ).select(F.col(id_col).alias("id_base"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect("_shn", "_shb"))
    union = F.size(F.array_union("_shn", "_shb"))
    return (
        cand.join(new_sets, "id_new")
        .join(base_sets, "id_base")
        .select("id_new", "id_base", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    num_partitions: int | None = None,
    shingles: DataFrame | None = None,  # shingle_rows form: (id, _sh) rows
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (or the full cross space if
    ``candidates`` is None — testing only; production always passes the LSH
    candidate set). Output: (id_a, id_b, jaccard ≥ threshold)."""
    sh = shingle_table(
        docs, id_col, text_col, shingle_n, num_partitions, rows=shingles
    )
    if candidates is None:
        a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = (
            candidates.join(
                sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha")),
                "id_a",
            ).join(
                sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb")),
                "id_b",
            )
        )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size(F.array_union("_sha", "_shb"))
    jac = (inter / union).alias("jaccard")
    return (
        pairs.select("id_a", "id_b", jac)
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, simhash) table: 64-bit SimHash of the token multiset.

    Plan shape: explode tokens → xxhash64 once per token → 64 per-bit ±1
    vote sums in ONE hash aggregate keyed by doc id → pack sign bits.
    Everything JVM-side; the single shuffle moves 64 longs per document."""
    tok = docs.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("_t")
    ).withColumn("_h", F.xxhash64("_t"))
    if num_partitions:
        tok = tok.repartition(num_partitions, id_col)
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("_h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_v{i}")
            for i in range(bits)
        ]
    )
    packed = None
    for i in range(bits):
        bit = F.when(
            F.col(f"_v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        packed = bit if packed is None else packed.bitwiseOR(bit)
    return votes.select(F.col(id_col), packed.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    num_partitions: int | None = None,
    simhash: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Scale path: block on 4 × 16-bit chunks of the simhash — any pair within
    Hamming 3 of a 64-bit hash must agree exactly on ≥1 of the 4 chunks
    (pigeonhole), so candidate generation is 4 equi-joins, never a cross
    join. Verification counts differing bits via bit_count.

    ``simhash`` accepts a prebuilt/materialized :func:`simhash_table`
    (id, simhash) so the 64-vote aggregate — the suite's single widest
    whole-stage-codegen unit, ~3 s of one-time JIT compile per session
    at ANY data size — executes once and the chunk self-join reads an
    8-bytes-per-doc table. Measured at sf0.1 (solo session A/B, r04):
    cold 6.8 s direct vs 6.3 s materialized — cold time is dominated by
    per-stage codegen compile either way, since AQE already reuses the
    exchange at runtime; warm runs are ~2.0 s both ways. The value of
    the parameter is operational (an ingest pipeline probes a persisted
    simhash table instead of re-hashing the corpus), not compile
    savings.
    """
    sh = (
        simhash
        if simhash is not None
        else simhash_table(docs, id_col, text_col, num_partitions=num_partitions)
    )
    chunks = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ckey"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("_c"),
    ).select(id_col, "simhash", "_c.chunk", "_c.ckey")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.chunk") == F.col("b.chunk"),
                F.col("a.ckey") == F.col("b.ckey"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("_ha"),
            F.col("b.simhash").alias("_hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming")
    return cand.select("id_a", "id_b", ham).filter(F.col("hamming") <= max_hamming)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    final_stage: str = "auto",
    auto_node_limit: int = 2_000_000,
    parts: int | None = None,
) -> DataFrame:
    """Connected components over an undirected pair list by DISTRIBUTED
    UNION-FIND FILTERING (the MapReduce "filtering" CC family, cf.
    Rastogi et al. / the GraphFrames big-star small-star lineage): each
    partition runs an in-memory union-find over its edges and emits its
    spanning forest as (node → partition-local root) star edges — at most
    one edge per distinct node, so the edge set only shrinks. Partitions
    are then coalesced (a NARROW dependency — co-location is all the
    merge needs, no hash shuffle — a localCheckpoint between passes cuts
    the stage so each pass keeps its own parallelism) and the pass
    repeats until one partition holds the whole forest, whose roots are
    the final labels.

    Why this beats iterative min-label propagation here: propagation
    costs O(diameter) rounds of (join + aggregate + checkpoint + count)
    jobs — a long-chained graph (single-linkage spatial clusters) took
    ~20 driver-synchronized rounds; this plan is log_fanin(P)
    Arrow-batched Python passes (one short job each) chained by narrow
    coalesces — no shuffle and no per-round convergence count. Union-find
    always roots the SMALLER id, so every pass propagates component
    minima and the final root is exactly min(component) — deterministic
    regardless of partition layout.

    Scale posture (100 TB): pass K's input is at most one star edge per
    distinct node in each coalesced group, so data shrinks geometrically
    toward one (node, root) row per node. ``final_stage="local"`` runs the
    last pass with the whole distinct-node forest of the PAIR GRAPH in one
    task (near-dup graphs: dup nodes only, a small fraction of the
    corpus) — the fast path whenever that forest fits task memory.
    ``final_stage="distributed"`` stops filtering while still parallel
    (several partitions) and closes the remaining star forest — already a
    connectivity-preserving contraction with depth-1 stars, so a few-hop
    diameter — by min-label propagation joins, which stay fully
    distributed and converge in a handful of rounds on the contracted
    graph. The default ``"auto"`` reads the exact distinct-node count off
    the first materialized pass (one distinct-aggregate over the already
    checkpointed star rows — never a re-execution of the caller's pair
    plan) and picks local below ``auto_node_limit``, distributed above —
    so the default never silently concentrates an oversized forest in
    one task. The limit is sized for what the local pass actually
    BUILDS, not raw longs: the final task materializes a Python dict
    union-find plus pandas frames, ~100-150 bytes per node (boxed ints +
    dict slots), so 2M nodes ≈ 200-300 MB in one task — safe under
    default executor memory; 10M would be multi-GB (ADVICE r03). Same
    labels every way (property-tested).

    Output: (``src`` node id, ``cluster_id`` = min node id in component).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("s", LongType(), False),
            StructField("t", LongType(), False),
        ]
    )

    def uf_pass(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        nodes: set = set()
        for pdf in batches:
            for a, b in zip(pdf["s"].values, pdf["t"].values):
                a, b = int(a), int(b)
                nodes.add(a)
                nodes.add(b)
                ra, rb = find(a), find(b)
                if ra == rb:
                    continue
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        if nodes:
            ns = sorted(nodes)
            yield pd.DataFrame(
                {"s": ns, "t": [find(n) for n in ns]}
            )

    # Node-id contract: integral ids only. The union-find workers key on
    # int64; a silent cast of string/float ids would null out and fail
    # deep inside the Python pass with an opaque error — refuse up front
    # with a clear message instead (map non-numeric ids through xxhash64
    # or a dense-rank dictionary before calling).
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    integral = (ByteType, ShortType, IntegerType, LongType)
    schema = {f.name: f.dataType for f in pairs.schema.fields}
    for c in (src, dst):
        if not isinstance(schema[c], integral):
            raise TypeError(
                f"connected_components requires integral node ids; column "
                f"{c!r} is {schema[c].simpleString()} — hash or "
                f"dictionary-encode ids to long first"
            )
    df = pairs.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("t")
    )
    # Cap the first pass's partition count: union-find is O(alpha) per
    # edge, so fewer, larger partitions amortize the per-pass Python
    # worker round-trip without risking task memory (star edges are one
    # row per distinct node).
    from ..functions.checkpoints import CheckpointChain

    chain = CheckpointChain()
    # max(..., 1): an EMPTY pair set reaches here with 0 partitions when
    # AQE coalesces an empty shuffle away (e.g. a density-clustering run
    # whose core subgraph is empty at tiny scale) — coalesce(0) throws.
    # ``parts`` lets a caller with a small known edge set pick the first
    # pass's width directly instead of mutating the session's
    # shuffle-partition conf around the call (ADVICE r04: the conf
    # mutation raced under concurrent query building). It is capped at
    # the input's own count: coalesce cannot widen, so a wider ``parts``
    # would only add checkpointed passes over the same partitions.
    n = df.rdd.getNumPartitions()
    parts = max(min(n if parts is None else parts, n, 64), 1)
    fanin = 8
    stage = final_stage
    stop_parts = fanin if stage == "distributed" else 1
    df = df.coalesce(parts)
    first_pass = True
    while True:
        df = df.mapInPandas(uf_pass, out_schema)
        if parts <= stop_parts:
            break
        # Materialize each pass: coalesce is narrow, so WITHOUT a stage
        # boundary the whole chain would collapse into stop_parts tasks
        # (the classic coalesce(1) pitfall) and every "parallel" pass
        # would run serially inside the final task. The checkpoint cuts
        # a short job per pass — pass K runs with K's own parallelism,
        # only the contracted star edges carry forward, and the chain
        # releases pass K-1's blocks as soon as K materializes.
        df = chain.checkpoint(df)
        if first_pass and stage == "auto":
            # Distinct-node count off the cached first pass (a node that
            # spans partitions emits one star row per partition, so a raw
            # row count would overestimate by up to the partition count) —
            # one partial-aggregated pass over checkpointed blocks decides
            # whether the final forest is safe in a single task.
            nodes = df.select("s").distinct().count()
            if nodes > auto_node_limit:
                stage = "distributed"
                stop_parts = fanin
            else:
                stage = "local"
            first_pass = False
        parts = max(stop_parts, parts // fanin)
        df = df.coalesce(parts)
    if stage == "distributed" and parts > 1:
        return _labelprop_components(df, max_iter=max_iter).select(
            F.col("s").alias(src), F.col("label").alias("cluster_id")
        )
    return df.select(F.col("s").alias(src), F.col("t").alias("cluster_id"))


def _labelprop_components(star_edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Distributed finisher for :func:`connected_components`: min-label
    propagation WITH POINTER DOUBLING over the contracted (node,
    local-root) star forest. Plain neighbor-min moves the component
    minimum ONE contracted hop per round — O(diameter) driver rounds,
    which silently under-converged on long chains when filtering stopped
    early (caught by the r03 chain test: a 500-node path left 442 wrong
    labels at max_iter=50). Each round here therefore also shortcuts the
    label-pointer graph twice — label(x) <- min(label(x), label(label(x)))
    — the classic pointer-jumping step, so the covered distance roughly
    quadruples per round and convergence is O(log diameter) (~10 rounds
    for a million-supernode chain). Every step is an equi-join shuffle +
    aggregate; never collects, so the node set can exceed any single
    task's memory; raises instead of returning wrong labels if max_iter
    is ever exhausted. Output: (s = node id, label = component min id)."""
    from ..functions.checkpoints import CheckpointChain

    # Setup blocks (p, symmetrized edges, initial labels) chain through
    # their own releaser so they drop when this function returns — the
    # final labels are an independent chained checkpoint, so nothing the
    # caller holds depends on these.
    setup = CheckpointChain(keep=3)
    p = setup.checkpoint(star_edges)
    edges = setup.checkpoint(
        p.unionByName(p.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .distinct()
    )
    labels = setup.checkpoint(
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    chain = CheckpointChain()  # label generations; edges pinned via setup
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["t"] == labels["id"])
            .groupBy("s")
            .agg(F.min("label").alias("nbr_label"))
        )
        cand = labels.join(nbr_min, labels["id"] == nbr_min["s"], "left").select(
            labels["id"],
            F.least(
                labels["label"], F.coalesce("nbr_label", labels["label"])
            ).alias("label"),
            labels["label"].alias("_old"),
        )
        for _jump in range(2):
            ptr = cand.select(
                F.col("id").alias("_pid"), F.col("label").alias("_plabel")
            )
            cand = (
                cand.join(ptr, cand["label"] == ptr["_pid"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce("_plabel", F.col("label"))
                    ).alias("label"),
                    "_old",
                )
            )
        cand = chain.checkpoint(cand)
        changed = cand.filter("label < _old").count()
        labels = cand.drop("_old")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components distributed finisher did not converge "
            f"in {max_iter} rounds — raise max_iter"
        )
    # The converged labels are their own checkpoint; the setup blocks
    # (star rows, symmetrized edges, initial labels) are now dead weight.
    setup.release(star_edges)
    return labels.select(F.col("id").alias("s"), "label")


def incremental_components(
    standing: DataFrame,
    batch_pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """INCREMENTAL connected-components maintenance (VERDICT r08 task 2)
    — the last non-incremental stage in the ingest dedup path closed:
    given the STANDING assignment (``node``, ``root`` = min id of its
    component, exactly what :func:`connected_components` emits and a
    prior session persisted) and a new batch's verified pairs, produce
    the updated assignment WITHOUT re-scanning edge history.

    The standing invariant makes contraction sound: each root is the
    min id of its old component, so union-finding over the CONTRACTED
    batch graph — every endpoint replaced by its standing root (or
    itself if unassigned) — yields, per merged group, the min over
    {merged roots ∪ new node ids} = the min of the merged component.
    Plan: (1) one broadcast join maps the batch's endpoint set (small,
    O(batch)) onto standing roots; (2) :func:`connected_components`
    runs over the contracted edges — O(batch) rows, never history;
    (3) the resulting delta map (old root → new root) broadcast-joins
    back onto standing, touching ONLY affected clusters (everyone else
    keeps their root via coalesce), and unassigned batch nodes append
    their fresh labels. At 100 TB the per-batch cost is the batch's own
    pairs plus two broadcast-hash passes over the standing table — the
    left-semi restriction in (1) and the delta patch scan in (3); both
    stream standing once each with only O(batch) state broadcast — no
    shuffle of standing, no full-history re-scan.

    Output: (``node``, ``cluster_id``) over standing nodes ∪ batch pair
    nodes. Equals a from-scratch rebuild over old ∪ new edges
    (exact-oracled by the recursive-CTE closure; property-tested for
    random graphs/splits)."""
    e = batch_pairs.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("t")
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("t").alias("node")))
        .distinct()
    )
    # Endpoint → standing root (itself when unassigned). ``nodes`` is
    # batch-bounded; standing is the corpus-sized side — so standing is
    # first RESTRICTED by a broadcast left-semi on the batch's node set
    # (one scan, no shuffle: LeftSemi builds the broadcast right) and
    # only the O(batch) surviving rows join back. The naive
    # ``nodes LEFT JOIN standing`` spelling sort-merge-shuffled ALL of
    # standing on node per batch — the exact cost this operator exists
    # to avoid (caught by plan audit, r09).
    hits = standing.join(F.broadcast(nodes), "node", "left_semi")
    m = (
        nodes.join(F.broadcast(hits), "node", "left")
        .select(
            "node", F.coalesce("root", F.col("node")).alias("r"),
            F.col("root").isNotNull().alias("_assigned"),
        )
        .localCheckpoint()
    )
    ma = m.select(F.col("node").alias("s"), F.col("r").alias("_ra"))
    mb = m.select(F.col("node").alias("t"), F.col("r").alias("_rb"))
    contracted = (
        e.join(F.broadcast(ma), "s")
        .join(F.broadcast(mb), "t")
        .filter(F.col("_ra") != F.col("_rb"))
        .select(F.col("_ra").alias("id_a"), F.col("_rb").alias("id_b"))
    )
    delta = connected_components(contracted, parts=4).select(
        F.col("id_a").alias("_old"), F.col("cluster_id").alias("_new")
    ).localCheckpoint()
    updated = standing.join(
        F.broadcast(delta), standing["root"] == delta["_old"], "left"
    ).select(
        "node", F.coalesce("_new", F.col("root")).alias("cluster_id")
    )
    fresh = (
        m.filter(~F.col("_assigned"))
        .join(F.broadcast(delta), m["r"] == delta["_old"], "left")
        .select("node", F.coalesce("_new", F.col("r")).alias("cluster_id"))
    )
    return updated.unionByName(fresh)


def char_trigrams(col):
    """Distinct character 3-grams of a string column, JVM-side (empty array
    under 3 chars — mirrors the DuckDB twin used by the oracles)."""
    c = F.lower(F.trim(col)) if not isinstance(col, str) else F.lower(F.trim(F.col(col)))
    return F.when(
        F.length(c) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(c) - 2),
                lambda i: c.substr(i, F.lit(3)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def blocked_fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    name_col: str,
    block_cols: list[str],
    threshold: float,
    id_col: str,
) -> DataFrame:
    """Entity resolution across tables: candidate pairs from an equi-join on
    the blocking key(s), verified by character-trigram Jaccard ≥ threshold.

    The classic record-linkage shape: blocking bounds the pair space (the
    equi-join shuffles each side once on the block key; pair count is
    quadratic only WITHIN a block, so block cardinality is the scale dial),
    and the exact set-similarity check runs per candidate — never a cross
    join. Self-join callers get each unordered pair once (id_a < id_b).
    Output: (id_a, id_b, jaccard) with jaccard rounded to 6 digits for
    engine-stable thresholding.

    Trigram sets are hashed to int64 (xxhash64) before the join:
    intersecting long arrays measured ~1.5× faster than string arrays at
    sf0.1 (interleaved A/B) and the joined rows shrink severalfold. Set
    equality — and therefore the Jaccard — is exact absent a 64-bit hash
    collision among the corpus's distinct trigrams (P ≈ d²/2⁶⁵, and
    deterministic for fixed data).
    """
    def prep(df, side):
        tg = F.array_distinct(
            F.transform(char_trigrams(name_col), lambda s: F.xxhash64(s))
        )
        return df.select(
            F.col(id_col).alias(f"id_{side}"),
            *[F.col(b).alias(f"_b{i}") for i, b in enumerate(block_cols)],
            tg.alias(f"_tg_{side}"),
        )

    a, b = prep(left, "a"), prep(right, "b")
    on = [f"_b{i}" for i in range(len(block_cols))]
    inter = F.size(F.array_intersect("_tg_a", "_tg_b"))
    union = F.size("_tg_a") + F.size("_tg_b") - inter
    # Two sub-3-char names have empty trigram sets: union 0 would divide
    # by zero under ANSI; such pairs carry no signal → null → filtered.
    jac = F.round(F.when(union > 0, inter / union), 6)
    # Note: the classic size-ratio prune (J ≤ min/max ⇒ filter
    # min ≥ t·max before intersecting) was measured HERE and reverted —
    # on length-homogeneous name sets it prunes nothing and its extra
    # per-row predicate made the join ~1.7× slower (interleaved A/B at
    # sf0.1). Re-introduce it only for corpora with heterogeneous name
    # lengths, where it actually cuts intersections.
    return (
        a.join(b, on=on)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 9,
    threshold_den: int = 10,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    eager: bool = True,
) -> DataFrame:
    """Directional containment near-dup pairs: (id_a, id_b, containment)
    with |sh(A) ∩ sh(B)| / |sh(A)| ≥ num/den — catches sub/superset
    duplicates (a doc quoted wholesale inside a longer one) that
    symmetric-Jaccard MinHash LSH structurally misses (J is small when
    |B| ≫ |A| even at containment 1.0).

    Candidate generation is PREFIX FILTERING (the set-similarity-join
    standard): order every doc's shingles by ascending global document
    frequency; if C(A,B) ≥ t then B must hit at least one of A's
    (|A| - ⌈t·|A|⌉ + 1) rarest shingles — so only those prefix rows join
    the inverted index, and rare-first ordering keeps each posting list
    short. Everything is equi-joins + hash aggregates: shuffle is
    O(prefix rows + index rows), never the quadratic pair space the
    oracle brute-forces. The required-overlap count uses exact integer
    arithmetic (⌈n·sz/d⌉ = (n·sz + d - 1) div d) — a float ⌈0.9·sz⌉
    can round up and silently shrink the prefix below the sound bound.

    Exact verification then computes containment per candidate from the
    distinct-shingle arrays; the division is a single int/int → double,
    bit-identical across engines.
    """
    rows = (
        shingles
        if shingles is not None
        else shingle_rows(docs, id_col, text_col, shingle_n)
    )
    # uniq feeds FOUR consumers (sizes, frequencies, the prefix join and
    # the inverted-index side) and sets feeds two — persist both or each
    # consumer re-runs the distinct/collect_set aggregate over the whole
    # shingle pass. Released after the eager materialization below.
    uniq = rows.select(F.col(id_col).alias("_id"), "_sh").distinct()
    if eager:
        uniq = uniq.persist()
    sizes = uniq.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    freq = uniq.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "_sh")
    prefix = (
        uniq.join(freq, "_sh")
        .withColumn("_rn", F.row_number().over(w))
        .join(sizes, "_id")
        .filter(
            F.col("_rn")
            <= F.col("_sz")
            - F.expr(
                f"({threshold_num} * _sz + {threshold_den} - 1)"
                f" div {threshold_den}"
            )
            + 1
        )
        .select(F.col("_id").alias("id_a"), "_sh")
    )
    cand = (
        prefix.join(
            uniq.select(F.col("_id").alias("id_b"), "_sh"), "_sh"
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = shingle_table(docs, id_col, text_col, shingle_n, rows=rows)
    if eager:
        sets = sets.persist()
    verified = (
        cand.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("_sha", "_shb")) / F.size("_sha")
            ).alias("containment"),
        )
        .filter(
            F.col("containment") >= F.lit(threshold_num) / F.lit(threshold_den)
        )
    )
    if eager:
        # Materialize now (the verified pair set is O(dups) — tiny) so
        # the multi-consumed intermediates can be released immediately.
        # ``eager=False`` keeps the full lazy plan for plan inspection.
        verified = verified.localCheckpoint()
        uniq.unpersist()
        sets.unpersist()
    return verified


def jaccard_pairs_allpairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_num: int = 8,
    threshold_den: int = 10,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ num/den — the GROUND-TRUTH pair
    set the blocking families are graded against in
    ``dedup_blocking_report`` (VERDICT r07 task 1). No blocking
    heuristic in the loop: candidate generation is PREFIX FILTERING
    (AllPairs/PPJoin, Bayardo et al. WWW 2007), which is LOSSLESS for
    a Jaccard threshold — J(A,B) ≥ t implies |∩| ≥ t·|∪| ≥ t·|A|, so
    |∩| ≥ ⌈t·|A|⌉ (integers), and a pair where B misses ALL of A's
    (|A| − ⌈t·|A|⌉ + 1) rarest shingles can reach overlap at most
    ⌈t·|A|⌉ − 1 — impossible. Only that prefix joins the inverted
    index (rare-first global order keeps posting lists short), then
    every candidate verifies by exact set Jaccard. The required
    overlap uses exact integer arithmetic (⌈n·sz/d⌉ = (n·sz + d − 1)
    div d), the :func:`containment_pairs` convention. Shuffle is
    O(prefix rows + index rows + true-candidate rows) — never the
    quadratic pair space, which is what lets the EXACT set double as
    a per-round measurement at bench scale.
    Output: (id_a < id_b, jaccard ≥ num/den)."""
    rows = (
        shingles
        if shingles is not None
        else shingle_rows(docs, id_col, text_col, shingle_n)
    )
    uniq = rows.select(F.col(id_col).alias("_id"), "_sh").distinct()
    sizes = uniq.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    freq = uniq.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "_sh")
    prefix = (
        uniq.join(freq, "_sh")
        .withColumn("_rn", F.row_number().over(w))
        .join(sizes, "_id")
        .filter(
            F.col("_rn")
            <= F.col("_sz")
            - F.expr(
                f"({threshold_num} * _sz + {threshold_den} - 1)"
                f" div {threshold_den}"
            )
            + 1
        )
        .select(F.col("_id").alias("_ida"), "_sh")
    )
    cand = (
        prefix.join(uniq.select(F.col("_id").alias("_idb"), "_sh"), "_sh")
        .filter(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )
        .distinct()
    )
    return ngram_jaccard_pairs(
        docs, cand, id_col, text_col, shingle_n,
        threshold_num / threshold_den, shingles=rows,
    )


def snm_candidates(
    docs: DataFrame,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_len: int = 64,
    reverse: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """One sorted-neighborhood CANDIDATE pass, unverified — the raw
    (id_a < id_b) blocking output of :func:`sorted_neighborhood_pairs`
    before its Jaccard verify, exposed so ``dedup_blocking_report`` can
    grade the blocking itself (candidates vs ground truth) separately
    from the verification it shares with every other family.
    ``reverse=True`` is the multi-pass token-order-reversed key."""
    return _snm_candidates(
        docs, _snm_key(text_col, key_len, reverse),
        window, id_col, num_partitions,
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    num_partitions: int | None = None,
    key_len: int = 64,
) -> DataFrame:
    """Sorted-neighborhood near-dedup (r04) — the third blocking family
    beside MinHash-LSH and SimHash chunks: documents sort by their
    normalized text (the exact-dedup normalization, whitespace-collapsed
    lowercase) with an id tiebreak, and each document is compared only
    to its ``window`` successors in sort order; survivors verify by
    exact n-gram Jaccard. Catches the near-dup mode LSH is weakest on —
    shared-prefix boilerplate with a divergent tail — at O(n·window)
    candidate pairs.

    Scale shape: the global sort rank comes from
    :func:`~.relational.global_rank` (repartitionByRange + per-partition
    windows + a P-integer offset broadcast — NEVER a single-partition
    sort); candidate generation is ``window`` narrow rank-shift
    equi-joins via one explode (rn_b = rn_a + d, d ∈ 1..window), so
    shuffle is window·n id-rank rows; verification reuses the standard
    candidate-driven Jaccard join. Every stage is linear in n for fixed
    window. The oracle replays the same (normalized key, id) total order
    with ROW_NUMBER — binary string collation matches between engines.

    The sort key is BOUNDED to the first ``key_len`` chars of the
    normalized text (classic SNM uses a fixed-width blocking key): the
    rank's range exchange then ships ≤``key_len`` chars + id per row
    instead of whole documents — a ~5× payload cut on this corpus and
    unbounded at 100 TB. The standard fixed-width-key trade applies:
    among documents sharing an IDENTICAL ``key_len``-char normalized
    prefix, order falls to the id tiebreak rather than tail content,
    so when more than ``window`` docs share a prefix, a tail-similar
    pair inside that group can fall out of the window (full-text
    ordering had the same property for shared FULL texts; raise
    ``key_len`` or ``window`` for prefix-template-heavy corpora).
    Survivors still verify by exact full-text Jaccard, so precision is
    unaffected either way.
    Output: (id_a, id_b, jaccard ≥ threshold), id_a < id_b.
    """
    cand = _snm_candidates(
        docs, _snm_key(text_col, key_len, reverse=False),
        window, id_col, num_partitions,
    )
    return ngram_jaccard_pairs(
        docs, cand, id_col, text_col, shingle_n, threshold,
        shingles=shingles,
    )


def _snm_key(text_col: str, key_len: int, reverse: bool):
    """The bounded SNM blocking key: first ``key_len`` chars of the
    whitespace-collapsed lowercase text — or of its TOKEN-ORDER
    reversal (last words first, each word intact), the independent
    second-pass key (suffix order): documents sharing a
    ``key_len``-char prefix template almost never also share the
    suffix, so the reversed pass re-sorts exactly the groups the
    prefix pass ties on id. Token-level (not character-level)
    reversal on purpose: Spark reverses strings per CODEPOINT while
    SQL engines like DuckDB reverse per GRAPHEME CLUSTER (review r07
    confirmed the divergence on combining sequences), so a
    character-reversed key could not be replayed exactly by the
    oracle on non-ASCII text — word-splitting on the collapsed single
    spaces keeps every character intact in both engines."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    if reverse:
        norm = F.array_join(F.reverse(F.split(norm, " ")), " ")
    return F.substring(norm, 1, key_len)


def _snm_candidates(docs, key, window, id_col, num_partitions):
    """One SNM pass: global rank on (key, id) + ``window`` rank-shift
    equi-joins → (id_a, id_b) candidates (see
    :func:`sorted_neighborhood_pairs` for the scale rationale)."""
    from .relational import global_rank

    ranked = global_rank(
        docs.select(F.col(id_col), key.alias("_key")),
        ["_key", id_col],
        rank_col="_rn",
        num_partitions=num_partitions,
    ).select(id_col, "_rn")
    probe = ranked.select(
        F.col(id_col).alias("_ida"),
        F.col("_rn"),
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("_d"),
    ).select("_ida", (F.col("_rn") + F.col("_d")).alias("_rnb"))
    return (
        probe.join(
            ranked.select(F.col(id_col).alias("_idb"), F.col("_rn").alias("_rnb")),
            "_rnb",
        )
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )
        .distinct()
    )


def sorted_neighborhood_pairs_multipass(
    docs: DataFrame,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    num_partitions: int | None = None,
    key_len: int = 64,
) -> DataFrame:
    """MULTI-PASS sorted-neighborhood near-dedup (VERDICT r06 task 4 —
    classic SNM's answer to any single key's blind spot): pass 1 sorts
    by the bounded normalized-text PREFIX, pass 2 by the bounded
    TOKEN-ORDER-REVERSED text prefix (suffix order — an independent
    key; word-level reversal so the oracle replays it exactly, see
    :func:`_snm_key`), candidate
    sets union before ONE shared exact-Jaccard verification. The
    single-pass fixed-width-key trade is documented on
    :func:`sorted_neighborhood_pairs`: when more than ``window`` docs
    share an identical ``key_len``-char prefix (prefix-template
    corpora — boilerplate headers, form letters), order inside the
    group falls to the id tiebreak and a tail-similar pair can fall
    out of the window. The reversed key re-sorts exactly those groups
    by their TAILS, so such pairs become window-adjacent in pass 2
    (and vice versa for suffix templates) — each pass costs the same
    linear rank exchange (≤ ``key_len`` chars + id per row), and the
    union at most doubles the candidate count before the verify.
    Output: (id_a, id_b, jaccard ≥ threshold), id_a < id_b."""
    c1 = _snm_candidates(
        docs, _snm_key(text_col, key_len, reverse=False),
        window, id_col, num_partitions,
    )
    c2 = _snm_candidates(
        docs, _snm_key(text_col, key_len, reverse=True),
        window, id_col, num_partitions,
    )
    cand = c1.unionByName(c2).distinct()
    return ngram_jaccard_pairs(
        docs, cand, id_col, text_col, shingle_n, threshold,
        shingles=shingles,
    )


def kgram_occurrence_rows(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, _pos, _gh) — one row per FULL k-token window occurrence, with
    ``_gh`` = xxhash64 of the space-joined gram. Docs shorter than ``k``
    tokens yield no rows (strict windows — unlike :func:`shingle_rows`,
    whose single partial gram is the right semantics for set-Jaccard but
    not for positional span matching). Same codegen pipeline as
    :func:`shingle_rows` (posexplode + window leads beat interpreted
    array HOFs ~6×); positions are 1-based to match SQL windows. Only the
    8-byte hash leaves this pass — the gram strings never shuffle, the
    scale posture for a corpus-wide inverted index (hash collisions are
    negligible at 2^-64-per-pair and the downstream verification joins
    are hash-keyed exactly like the production systems this mirrors)."""
    tok = docs.select(
        F.col(id_col), F.posexplode(tokens_col(text_col)).alias("_p0", "_t")
    )
    w = Window.partitionBy(id_col).orderBy("_p0")
    leads = [F.lead("_t", i).over(w) for i in range(1, k)]
    size = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    return (
        tok.select(
            F.col(id_col),
            (F.col("_p0") + 1).alias("_pos"),
            F.concat_ws(" ", F.col("_t"), *leads).alias("_g"),
            size.alias("_sz"),
        )
        .filter(F.col("_pos") <= F.col("_sz") - k + 1)
        .select(id_col, "_pos", F.xxhash64("_g").alias("_gh"))
    )


def substring_span_pairs(
    docs: DataFrame,
    k: int = 10,
    max_df: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    grams: DataFrame | None = None,
) -> DataFrame:
    """Cross-document repeated-substring spans — exact-substring dedup in
    the style of suffix-array training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find
    every ordered doc pair sharing ≥1 exact k-token window and merge the
    matched windows into maximal consecutive runs. Where the Jaccard
    family measures whole-document set overlap, this catches a long
    verbatim passage pasted into an otherwise-unrelated document — the
    boilerplate/license/quote signal set-similarity dilutes away.

    Plan (all equi-joins, linear in corpus token count):
    1. one narrow pass emits (id, pos, gram-hash) window occurrences
       (:func:`kgram_occurrence_rows`);
    2. gram doc-frequency aggregate keeps hashes seen in ≥2 docs and —
       the stop-gram guard, same role as the LSH stop-bucket cap — drops
       hashes in more than ``max_df`` docs, bounding any single gram's
       pair fanout at max_df² (a ubiquitous boilerplate sentence at
       100 TB would otherwise go quadratic);
    3. the surviving occurrences self-join on the hash (id_a < id_b) and
       dedup to (id_a, id_b, pos_a);
    4. per-pair gap-and-island merge: grp = pos_a − row_number() over the
       (id_a, id_b) partition — bounded by a doc's window count, never a
       global window — then runs roll up to the pair report.
    Output: (id_a, id_b, n_shared_windows, longest_span_tokens) where
    longest_span_tokens = longest run + k − 1.
    """
    g = grams if grams is not None else kgram_occurrence_rows(
        docs, k, id_col, text_col
    )
    dfreq = g.groupBy("_gh").agg(
        F.countDistinct(id_col).alias("_ddf")
    ).filter(
        (F.col("_ddf") >= 2)
        & ((F.col("_ddf") <= max_df) if max_df is not None else F.lit(True))
    )
    gk = g.join(dfreq.select("_gh"), "_gh", "left_semi")
    a = gk.select(
        F.col("_gh"), F.col(id_col).alias("id_a"), F.col("_pos").alias("pos_a")
    )
    b = gk.select(F.col("_gh"), F.col(id_col).alias("id_b"))
    matched = (
        a.join(b, "_gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pos_a")
        .distinct()
    )
    w = Window.partitionBy("id_a", "id_b").orderBy("pos_a")
    runs = (
        matched.withColumn("_grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "_grp")
        .agg(F.count(F.lit(1)).alias("_run"))
    )
    return runs.groupBy("id_a", "id_b").agg(
        F.sum("_run").alias("n_shared_windows"),
        (F.max("_run") + F.lit(k - 1)).cast("long").alias("longest_span_tokens"),
    )


def duplicated_window_fraction(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-text fraction: the share of a doc's k-token
    windows whose gram occurs in ≥2 distinct documents corpus-wide — the
    per-doc score the substring-dedup literature reports (and the gate a
    pipeline filters on before the heavier span merge). One gram-hash
    doc-frequency aggregate + one hash-keyed join back to the occurrence
    rows + one per-doc rollup — linear, no pair space at all. Docs with
    zero duplicated windows are omitted (the interesting tail is the
    duplicated one; the full corpus count lives in n_windows of the
    survivors). Output: (doc_id, n_windows, n_dup_windows,
    dup_fraction)."""
    g = grams if grams is not None else kgram_occurrence_rows(
        docs, k, id_col, text_col
    )
    dfreq = g.groupBy("_gh").agg(F.countDistinct(id_col).alias("_ddf"))
    flagged = g.join(dfreq, "_gh").select(
        id_col, (F.col("_ddf") >= 2).cast("int").alias("_dup")
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("_dup").alias("n_dup_windows"),
        )
        .filter(F.col("n_dup_windows") > 0)
        .select(
            id_col, "n_windows", "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6)
            .alias("dup_fraction"),
        )
    )


def substring_gram_index(
    base: DataFrame | None,
    k: int = 10,
    max_df: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    grams: DataFrame | None = None,
) -> DataFrame:
    """The standing corpus gram index for incremental substring dedup:
    distinct (_gh, id_base) rows — 8-byte gram hash → base doc id — with
    the ``max_df`` stop-gram cap already applied (grams present in more
    than max_df base docs are dropped at BUILD time, so every later
    probe inherits the skew guard for free). This is the persistable
    artifact: ~16 bytes/window as parquet, built once per corpus; each
    ingest batch pays only its own windows + the probe equi-join
    (:func:`incremental_substring_spans` with ``base_index=``)."""
    g = grams if grams is not None else kgram_occurrence_rows(
        base, k, id_col, text_col
    )
    idx = g.select("_gh", F.col(id_col).alias("id_base")).distinct()
    if max_df is not None:
        keep = idx.groupBy("_gh").agg(
            F.count(F.lit(1)).alias("_ddf")
        ).filter(F.col("_ddf") <= max_df)
        idx = idx.join(keep.select("_gh"), "_gh", "left_semi")
    return idx


def incremental_substring_spans(
    base: DataFrame,
    new: DataFrame,
    k: int = 10,
    max_df: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    base_grams: DataFrame | None = None,
    new_grams: DataFrame | None = None,
    base_index: DataFrame | None = None,
) -> DataFrame:
    """Ingest-time exact-substring probe — the incremental twin of
    :func:`substring_span_pairs` (as :func:`incremental_near_dup_pairs`
    is to the Jaccard family): only the NEW batch is tokenized and
    windowed; its gram hashes equi-join the standing corpus gram index
    (gh → base doc id — a persistable (8B, id) parquet artifact, built
    once per corpus, never re-derived per ingest), and matched windows
    merge to maximal spans per (new, base) pair. A single base match
    makes a window duplicated (no ≥2-doc gate — the base IS the prior
    corpus); ``max_df`` caps a gram's BASE doc fanout (the stop-gram
    guard — boilerplate present in more than max_df corpus docs is
    dropped before the probe join). Shuffle is O(batch windows + hits).
    ``base_index`` short-circuits the index derivation with a prebuilt
    (_gh, id_base) table — :func:`substring_gram_index`'s output, e.g.
    read back from parquet or probed per micro-batch — in which case
    ``base``/``base_grams``/``max_df`` are ignored (the cap was applied
    at build time).
    Output: (id_new, id_base, n_shared_windows, longest_span_tokens).
    """
    gn = new_grams if new_grams is not None else kgram_occurrence_rows(
        new, k, id_col, text_col
    )
    if base_index is not None:
        idx = base_index
    else:
        gb = base_grams if base_grams is not None else kgram_occurrence_rows(
            base, k, id_col, text_col
        )
        idx = substring_gram_index(
            None, k=k, max_df=max_df, id_col=id_col,
            text_col=text_col, grams=gb,
        )
    matched = (
        gn.select(
            "_gh", F.col(id_col).alias("id_new"), F.col("_pos").alias("pos_new")
        )
        .join(idx, "_gh")
        .select("id_new", "id_base", "pos_new")
        .distinct()
    )
    w = Window.partitionBy("id_new", "id_base").orderBy("pos_new")
    runs = (
        matched.withColumn("_grp", F.col("pos_new") - F.row_number().over(w))
        .groupBy("id_new", "id_base", "_grp")
        .agg(F.count(F.lit(1)).alias("_run"))
    )
    return runs.groupBy("id_new", "id_base").agg(
        F.sum("_run").alias("n_shared_windows"),
        (F.max("_run") + F.lit(k - 1)).cast("long").alias("longest_span_tokens"),
    )
