"""Similarity search over embedding columns (build plan M4).

Embeddings are plain ``array<float>`` columns; all vector math runs JVM-side
via ``F.zip_with``/``F.aggregate`` (whole-stage codegen) — no Python in the
hot path, no pyspark.ml Vector conversion.

Two paths:
- ``cosine_topk``      brute-force exact baseline: queries × corpus, bounded
                       because the query set is small (broadcast).
- ``cosine_topk_lsh``  scale path: random-hyperplane LSH buckets prune the
                       corpus before scoring — candidate generation is an
                       equi-join on bucket signature, linear shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_expr(a, b):
    """Cosine similarity of two array<double> columns, JVM-side."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _l2sq_unrolled(a, b, n: int):
    """Squared L2 distance of two length-``n`` array columns as a STATIC
    unrolled expression — array higher-order functions run interpreted
    (the SCALING.md shingle finding), so on the k-way-fanout scoring
    paths (every point × every centroid) the per-element lambda dominates
    runtime; an unrolled element_at sum stays inside whole-stage codegen
    (sf0.1 suite PQ index build measured 21 s → 12 s total with these
    unrolls + per-iteration centroid checkpoints). Use only when n is
    statically known and small (PQ subvectors: dim/m)."""
    terms = [
        (F.element_at(a, i + 1) - F.element_at(b, i + 1))
        * (F.element_at(a, i + 1) - F.element_at(b, i + 1))
        for i in range(n)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _dot_unrolled(a, b, n: int):
    """Dot product of two length-``n`` array columns, statically unrolled
    for codegen (see :func:`_l2sq_unrolled`)."""
    terms = [
        F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(n)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def as_double_array(col):
    return F.transform(col, lambda x: x.cast("double"))


def _rank_topk(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """The ranking tail of every top-k operator: per query, keep the
    ``k`` best rows by (``score_col`` desc, neighbor_id asc) and number
    them in ``rnk``. Scores are rounded upstream and ids break ties, so
    the cut is deterministic under any partitioning."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def _round_half_up_nonneg(y):
    """Exact numpy replay of Spark's ``round(y)`` (BigDecimal HALF_UP,
    scale 0) for NON-NEGATIVE doubles — the integer-grid step of the
    encode/assign scoring (round 11's vectorized-Arrow rewrite must be
    bit-equivalent to the JVM expression it replaced).

    ``floor(y + 0.5) == HALF_UP(y)`` exactly for ``0 ≤ y < 2^51``:
    there ``ulp(y) ≤ 0.25`` divides 0.5, so ``y + 0.5`` is computed
    EXACTLY (both addends are multiples of ulp and the sum stays
    representable), and the floor of the exact sum is ≥ ⌊y⌋+1 iff the
    true fractional part is ≥ 0.5 — precisely decimal HALF_UP. The
    guard raises loudly rather than ever mis-rounding (suite scores
    are ≤ 1e9 on this grid; 2^51 ≈ 2.25e15)."""
    import numpy as np

    arr = np.asarray(y, dtype=np.float64)
    if arr.size and float(np.max(arr)) >= 2.0**51:
        raise ValueError("grid value >= 2^51: exact HALF_UP proof range exceeded")
    return np.floor(arr + 0.5).astype(np.int64)


def _round_half_up_signed(y):
    """Signed companion of :func:`_round_half_up_nonneg` — BigDecimal
    HALF_UP rounds away from zero, so negatives mirror via
    ``ceil(y − 0.5)`` (the same exactness argument, reflected)."""
    import numpy as np

    arr = np.asarray(y, dtype=np.float64)
    if arr.size and float(np.max(np.abs(arr))) >= 2.0**51:
        raise ValueError("grid value >= 2^51: exact HALF_UP proof range exceeded")
    return np.where(
        arr >= 0, np.floor(arr + 0.5), np.ceil(arr - 0.5)
    ).astype(np.int64)


# Multiplicative-mix constants for the oracle-portable sample order: the
# Knuth multiplier over ids folded into 2^31, mod a large prime — every
# step exact int64 arithmetic (no overflow even under ANSI mode) and
# expressible verbatim in ANSI SQL, so a DuckDB oracle can replay it.
_MIX_MULT = 2654435761
_MIX_FOLD = 2147483648
_MIX_PRIME = 9007199254740881


def sample_order_key(id_col: str, mode: str):
    """Ordering key for the bounded deterministic ANN training sample.

    ``"hash"`` (default) orders by ``xxhash64(id)`` — a deterministic
    uniform shuffle of the id space, so a TakeOrdered prefix is an
    UNBIASED sample even when ids correlate with ingest time or source
    (VERDICT r04: an id-prefix sample fits centroids/codebooks to the
    oldest corpus slice at 100 TB and recall silently decays on newer
    data). Works for ids of any type.

    ``"mix"`` is the oracle-portable integer variant: the same
    decorrelation via a multiplicative mix a SQL oracle can replay
    exactly (integral ids only).

    ``"id"`` keeps the legacy id-prefix ordering, pinned by the
    ``similarity_index_cells`` / ``similarity_index_cells_kmeans``
    oracles.
    """
    if mode == "id":
        return F.col(id_col)
    if mode == "mix":
        return F.pmod(
            F.pmod(F.col(id_col).cast("long"), F.lit(_MIX_FOLD))
            * F.lit(_MIX_MULT),
            F.lit(_MIX_PRIME),
        )
    if mode == "hash":
        return F.xxhash64(F.col(id_col))
    raise ValueError(f"unknown sample_order {mode!r}")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    match_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The (small) query side is broadcast, so the corpus never shuffles for the
    join; per-query ranking then shuffles only (query_id, candidate score)
    pairs. Scores are computed in double and optionally rounded before the
    deterministic (score desc, id asc) ranking so results are stable across
    engines and partitionings. Self-matches are excluded.
    Output: (query_id, neighbor_id, rnk, cosine).

    ``match_col`` (round 9) makes this a FILTERED exact search: only
    corpus rows whose ``match_col`` equals the query's are eligible —
    the single-stage pre-filter (the predicate restricts candidates
    BEFORE ranking, so every query still gets k results from its
    eligible set; post-filtering a top-k can come up short). The
    equality turns the broadcast join into a hash equi-join on the
    attribute — strictly cheaper than the unfiltered scan.

    Scale contract: the plan is a BroadcastNestedLoopJoin whose BUILD side
    is the query set — cost is |corpus| × |queries|, linear in the corpus
    for a bounded query set (pinned by ``test_plans.py``). This is the
    exact baseline only; an unbounded query set must route through
    :func:`cosine_topk_lsh` (bucketed equi-join) or :func:`cosine_topk_ivf`
    (cell-probe equi-join), which trade recall for corpus-scale pruning.
    """
    extra_q = [F.col(match_col).alias("_qm")] if match_col else []
    extra_c = [F.col(match_col).alias("_cm")] if match_col else []
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("_qv"),
        *extra_q,
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("_cv"),
        *extra_c,
    )
    cos = cosine_expr(F.col("_qv"), F.col("_cv"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    cond = F.col("query_id") != F.col("neighbor_id")
    if match_col:
        cond = cond & (F.col("_cm") == F.col("_qm"))
    scored = (
        c.join(F.broadcast(q), on=cond)
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    return _rank_topk(scored, "cosine", k)


def _hyperplanes(spark, dim: int, planes: int, tables: int, seed: int = 42):
    """Tiny (tables×planes) DataFrame of unit hyperplane weight vectors.

    Deterministic splitmix-style weights; shipped as a broadcast table
    instead of plan literals — a 3000-literal expression tree measured ~10×
    slower to build and execute than this data-driven form.
    """
    import math

    rows = []
    for t in range(tables):
        for p in range(planes):
            weights = []
            for i in range(dim):
                h = ((seed + t) * 1_000_003 + p * 8191 + i * 97) & 0xFFFFFFFF
                h = (h ^ (h >> 16)) * 0x45D9F3B & 0xFFFFFFFF
                h = (h ^ (h >> 16)) * 0x45D9F3B & 0xFFFFFFFF
                h = h ^ (h >> 16)
                weights.append((h / 2**31) - 1.0)
            norm = math.sqrt(sum(w * w for w in weights)) or 1.0
            rows.append((t, p, [w / norm for w in weights]))
    return spark.createDataFrame(rows, "htable int, plane int, w array<double>")


def _hyperplane_matrix(dim: int, planes: int, tables: int, seed: int = 42):
    """The :func:`_hyperplanes` weights as a (dim × tables·planes) numpy
    matrix (columns ordered table-major), bit-identical to the DataFrame
    form."""
    cols = []
    for t in range(tables):
        for p in range(planes):
            weights = []
            for i in range(dim):
                h = ((seed + t) * 1_000_003 + p * 8191 + i * 97) & 0xFFFFFFFF
                h = (h ^ (h >> 16)) * 0x45D9F3B & 0xFFFFFFFF
                h = (h ^ (h >> 16)) * 0x45D9F3B & 0xFFFFFFFF
                h = h ^ (h >> 16)
                weights.append((h / 2**31) - 1.0)
            w = np.array(weights)
            n = np.sqrt((w * w).sum()) or 1.0
            cols.append(w / n)
    return np.stack(cols, axis=1)


def lsh_signatures(
    df: DataFrame,
    ident: str,
    dim: int,
    planes: int,
    tables: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, vector, htable, sig) random-hyperplane signatures.

    Plan shape: one NARROW pass — an Arrow-batched pandas UDF multiplies
    each batch's (N × dim) matrix against the constant (dim ×
    tables·planes) plane matrix and packs sign bits per table, then
    posexplode emits one (htable, sig) row per table. Zero shuffles and
    zero joins, vs. the previous explode×(tables·planes) → hash-aggregate
    form whose exchange carried the full vector per projected row
    (measured ~4× slower at 10k×64d). A 48-column matmul per row is
    exactly the case where vectorized-numpy-over-Arrow beats per-element
    codegen expressions.
    """
    from pyspark.sql.functions import pandas_udf

    W = _hyperplane_matrix(dim, planes, tables)
    bitw = (1 << np.arange(planes, dtype=np.int64))

    @pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy())  # N × dim
        bits = (M @ W) >= 0  # N × tables·planes
        packed = [
            bits[:, t * planes:(t + 1) * planes] @ bitw
            for t in range(len(W[0]) // planes)
        ]
        return pd.Series(list(np.stack(packed, axis=1)))

    v = as_double_array(vec_col)
    base = df.select(F.col(id_col).alias(ident), v.alias(f"_{ident}_v"))
    if num_partitions:
        base = base.repartition(num_partitions, ident)
    return base.select(
        ident,
        f"_{ident}_v",
        F.posexplode(sigs(f"_{ident}_v")).alias("htable", "sig"),
    )


def lsh_query_probes(
    df: DataFrame,
    ident: str,
    dim: int,
    planes: int,
    tables: int,
    n_probes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MULTI-PROBE query signatures (Lv et al., *Multi-Probe LSH*,
    VLDB 2007): beside each query's own bucket, emit the ``n_probes``
    perturbed buckets with the SMALLEST total squared margin — the
    canonical query-directed probing sequence. A perturbation set is a
    subset of sign bits to flip; its score is the sum of squared
    distances from the query to the flipped hyperplanes, so sets are
    enumerated in exactly the order a true neighbor is most likely to
    have landed across (heap generation via the paper's shift/expand
    moves — each set has a unique parent, so no dedup pass is needed).
    Probing ``n_probes`` extra buckets per table buys the recall of
    ~n_probes× more tables at ZERO index cost: the corpus side is
    untouched (same signatures, same storage), only the query side
    fans out (1 + n_probes) rows per (query, table). ADVICE r07
    closed two edges here: every requested probe is now emitted (the
    old head-of-sequence cut silently capped at planes+1, so tuning
    n_probes upward past that did nothing), and per_table is exact by
    construction, so the htable decode can never misassign. Requests
    beyond the 2^planes − 1 distinct perturbations fail loudly.
    Output: (ident, _{ident}_v, htable, sig)."""
    import heapq

    from pyspark.sql.functions import pandas_udf

    if n_probes > (1 << planes) - 1:
        raise ValueError(
            f"n_probes={n_probes} exceeds the {(1 << planes) - 1} distinct "
            f"non-empty perturbation sets of planes={planes}"
        )
    W = _hyperplane_matrix(dim, planes, tables)
    bitw = (1 << np.arange(planes, dtype=np.int64))

    def perturbation_sets(z2: np.ndarray) -> list[tuple[int, ...]]:
        # z2: squared margins sorted ascending; yields index tuples into
        # that order, by increasing score. Shift (bump the max element)
        # and expand (append the next) reach every subset exactly once.
        m = len(z2)
        heap = [(float(z2[0]), (0,))]
        out: list[tuple[int, ...]] = []
        while heap and len(out) < n_probes:
            score, s = heapq.heappop(heap)
            out.append(s)
            j = s[-1]
            if j + 1 < m:
                heapq.heappush(
                    heap, (score - float(z2[j]) + float(z2[j + 1]),
                           s[:-1] + (j + 1,))
                )
                heapq.heappush(
                    heap, (score + float(z2[j + 1]), s + (j + 1,))
                )
        return out

    @pandas_udf("array<long>")
    def probe_sigs(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy())  # N × dim
        proj = M @ W  # N × tables·planes
        out = []
        for r in range(len(M)):
            sigs_r = []
            for t in range(tables):
                p = proj[r, t * planes:(t + 1) * planes]
                base = int((p >= 0) @ bitw)
                sigs_r.append(base)
                order = np.argsort(np.abs(p))  # closest planes first
                z2 = np.abs(p)[order] ** 2
                for s in perturbation_sets(z2):
                    flip = 0
                    for i in s:
                        flip ^= int(bitw[order[i]])
                    sigs_r.append(base ^ flip)
            out.append(sigs_r)
        return pd.Series(out)

    per_table = 1 + n_probes
    v = as_double_array(vec_col)
    base = df.select(F.col(id_col).alias(ident), v.alias(f"_{ident}_v"))
    return base.select(
        ident,
        f"_{ident}_v",
        F.posexplode(probe_sigs(f"_{ident}_v")).alias("_pi", "sig"),
    ).select(
        ident,
        f"_{ident}_v",
        (F.col("_pi") / per_table).cast("int").alias("htable"),
        "sig",
    )


def kmeans_refine(
    points: DataFrame,
    centroids: DataFrame,
    group_cols: list[str],
    code_col: str,
    iters: int = 2,
    metric: str = "l2",
    round_digits: int = 6,
    vec_len: int | None = None,
) -> DataFrame:
    """Distributed Lloyd refinement of an initial centroid table — the
    k-means fit behind :func:`ivf_cells` / :func:`pq_codebooks` (VERDICT
    r03 task 2). ``points`` is (group_cols…, _pv: array<double>);
    ``centroids`` is (group_cols…, code_col, _cv: array<double>), small
    by construction (k·dim doubles per group). Each iteration is two
    linear passes, both fully distributed:

    1. ASSIGN — broadcast the centroids against the points (equi-join on
       the group columns when present, broadcast nested-loop otherwise)
       and keep the argmin/argmax code per point via a ``min(struct)``
       partial aggregate — distances compare on a 1e-6 integer grid with
       a code tiebreak, so the assignment is deterministic across
       engines and partitionings (the same convention as
       :func:`pq_encode`).
    2. UPDATE — per-cell componentwise mean via posexplode →
       groupBy(code, pos).avg: partial aggregation combines map-side, so
       the exchange carries k·dim rows per map partition, never the
       points. Means round to ``round_digits`` so the next iteration's
       assignments (and the final centroids) are engine-stable. Cells
       that lose all members keep their previous centroid (left-join +
       coalesce) — k never shrinks.

    Each iteration's centroid table is localCheckpointed — it is k·dim
    doubles (a few KB, bounded by construction, never corpus-sized), and
    iteration i+1 consumes it TWICE (the assign join and the empty-cell
    fallback), so without materialization the lineage re-evaluates
    iteration i-1 twice per consumer — 2^iters corpus passes (measured:
    the lazy form took 21 s to build the suite's PQ index at sf0.1; the
    materialized form ~3 s). The refinement is therefore iters tiny
    driver-synchronized jobs plus 2 linear corpus passes per iteration —
    never a collect. ``metric``: "l2" (PQ subspaces) or "cosine"
    (spherical k-means for IVF cells — assignment by max rounded cosine,
    update by mean; the cosine scoring renormalizes, so the mean need
    not).
    """
    assert metric in ("l2", "cosine")
    import math

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    if iters > 1:
        # The training set feeds every iteration's assign pass; it is
        # bounded by the callers' id-prefix sample (≤ k·1000 vectors), so
        # materialize it once instead of re-scanning/re-exploding the
        # corpus per iteration. Coalesce first (optimization round 11,
        # guide §1.2 per-task overhead): the set is bounded by
        # construction, so 32 two-row Python tasks per iteration is pure
        # scheduling + Arrow-batch overhead — 8 partitions keep every
        # iteration's mapInArrow at 8 tasks at ANY corpus scale (the
        # sample never grows with the corpus). Narrow dependency; the
        # decimal sums are order-independent, so results are unchanged.
        points = points.coalesce(8).localCheckpoint()

    # Optimization round 11 (guide §2.3/§2.4): the centroid table is
    # bounded by construction (k·dim doubles per group), so each
    # iteration's ASSIGN no longer joins a broadcast centroid frame (a
    # k-way row fanout per training point undone by a groupBy exchange)
    # — the centroids are held as plain Python state and inlined as
    # LITERALS, so each point row computes its argmin code in one
    # narrow Project (``array_min`` over k (score, code) structs built
    # from the SAME score arithmetic: the same unrolled L2 / HOF cosine
    # fold on the same 1e-6 integer grid with the same code tiebreak).
    # The UPDATE keeps its decimal-exact Spark aggregate verbatim (the
    # sums stay order-independent and oracle-replayable); its ≤ k·group
    # result rows collect to the driver — the same bounded artifact the
    # old per-iteration localCheckpoint materialized — and the
    # empty-cell fallback (keep the previous centroid) becomes a plain
    # dict merge. One exchange + one bounded collect per iteration,
    # down from a fanout join + two exchanges + a checkpoint job.
    spark = points.sparkSession
    schema = StructType(
        [centroids.schema[c] for c in group_cols + [code_col]]
        + [StructField("_cv", ArrayType(DoubleType()), True)]
    )
    # (group…, code) -> list[float]; the iteration-0 collect is the one
    # action the old form also paid to materialize the seed lineage.
    state: dict[tuple, list[float]] = {
        tuple(r[c] for c in group_cols + [code_col]): [float(x) for x in r["_cv"]]
        for r in centroids.select(*group_cols, code_col, "_cv").collect()
    }

    def dmean(col):
        return F.round(
            F.sum(col.cast("decimal(30,15)")).cast("double")
            / F.count(F.lit(1)),
            round_digits,
        )

    import pyarrow as pa

    code_dt = centroids.schema[code_col].dataType
    pts_src = points.select(*group_cols, "_pv")
    out_schema = ", ".join(
        [
            f"{pts_src.schema[c].name} "
            f"{pts_src.schema[c].dataType.simpleString()}"
            for c in group_cols
        ]
        + [f"{code_col} {code_dt.simpleString()}", "_pv array<double>"]
    )

    def _assign_fn(snapshot: dict):
        # snapshot: (group…) -> (codes asc, k×L centroid matrix) — the
        # numpy replay of the assign scoring, same ops, same left-fold
        # order, same integer grid, same (score, code-asc) argmin.
        def assign(batches):
            import numpy as np

            mats = {
                g: (np.asarray(cs, dtype=np.int64),
                    np.asarray(mat, dtype=np.float64))
                for g, (cs, mat) in snapshot.items()
            }
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                cols = {
                    batch.schema.names[j]: batch.column(j)
                    for j in range(batch.num_columns)
                }
                varr = cols["_pv"]
                flat = np.asarray(varr.flatten(), dtype=np.float64)
                L = flat.size // n  # uniform-length vectors (reshape
                # below raises loudly on ragged input)
                arr = flat.reshape(n, L)
                gvals = [
                    np.asarray(cols[c]) for c in group_cols
                ]
                out_codes = np.empty(n, dtype=np.int64)
                if metric == "cosine":
                    pacc = np.zeros(n)
                    for i in range(L):
                        pacc = pacc + arr[:, i] * arr[:, i]
                    pnorm = np.sqrt(pacc)
                for g, (cs, mat) in mats.items():
                    if group_cols:
                        mask = np.ones(n, dtype=bool)
                        for gi, gv in enumerate(g):
                            mask &= gvals[gi] == gv
                        if not mask.any():
                            continue
                        sub = arr[mask]
                    else:
                        mask = slice(None)
                        sub = arr
                    kk = mat.shape[0]
                    if metric == "l2":
                        d = None
                        for i in range(mat.shape[1]):
                            t = sub[:, i:i + 1] - mat[None, :, i]
                            t = t * t
                            d = t if d is None else d + t
                        grid = _round_half_up_nonneg(d * 1e6)
                    else:
                        dot = np.zeros((sub.shape[0], kk))
                        for i in range(mat.shape[1]):
                            dot = dot + sub[:, i:i + 1] * mat[None, :, i]
                        cn = np.empty(kk)
                        for ci in range(kk):
                            acc = 0.0
                            for x in mat[ci]:
                                acc = acc + float(x) * float(x)
                            cn[ci] = math.sqrt(acc)
                        pn = pnorm[mask] if group_cols else pnorm
                        cos = dot / (pn[:, None] * cn[None, :])
                        grid = -_round_half_up_signed(cos * 1e6)
                    out_codes[mask] = cs[np.argmin(grid, axis=1)]
                out = {c: cols[c] for c in group_cols}
                out[code_col] = pa.array(
                    out_codes,
                    type=pa.int64()
                    if code_dt.simpleString() == "bigint"
                    else pa.int32(),
                )
                out["_pv"] = varr
                yield pa.RecordBatch.from_pydict(out)

        return assign

    # Decimal-exact means (the suite's dsum pattern, scale 15 for
    # unit-magnitude components): the sums are order-independent, so
    # refined centroids are bit-identical under any partitioning AND
    # replayable by a DECIMAL(30,15) SQL oracle — a double avg would
    # drift in the last ulp with partition count. The component
    # means fuse into ONE hash aggregate (array of per-element
    # sums — no posexplode, no collect_list); the centroid length
    # is always known from the collected state, and the fused and
    # exploded forms compute the IDENTICAL decimal sums, so this
    # holds for the cosine/IVF path too (round 11 — one exchange
    # per iteration instead of two). The Column trees are
    # ITERATION-INVARIANT (only the mapInArrow snapshot changes), so
    # they are built ONCE here instead of re-paying the py4j
    # expression-tree construction every iteration (the wave-1
    # loop-invariant-trainer pattern).
    lens = {len(v) for v in state.values()}
    vec_len = vec_len or (lens.pop() if len(lens) == 1 else None)
    if vec_len:
        mean_cols = [
            F.array(
                *[dmean(F.element_at("_pv", i + 1)) for i in range(vec_len)]
            ).alias("_nv")
        ]
    for _ in range(iters):
        snapshot: dict[tuple, tuple] = {}
        for key, cv in sorted(state.items()):
            g = key[:-1]
            snapshot.setdefault(g, ([], []))
            snapshot[g][0].append(key[-1])
            snapshot[g][1].append(cv)
        best = pts_src.mapInArrow(_assign_fn(snapshot), out_schema)
        if vec_len:
            means = best.groupBy(*(group_cols + [code_col])).agg(*mean_cols)
        else:
            means = (
                best.select(
                    *group_cols, code_col, F.posexplode("_pv").alias("pos", "val")
                )
                .groupBy(*(group_cols + [code_col, "pos"]))
                .agg(dmean(F.col("val")).alias("val"))
                .groupBy(*(group_cols + [code_col]))
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "val"))),
                        lambda s: s["val"],
                    ).alias("_nv")
                )
            )
        for r in means.collect():
            key = tuple(r[c] for c in group_cols + [code_col])
            state[key] = [float(x) for x in r["_nv"]]
    return spark.createDataFrame(
        [tuple(list(k) + [v]) for k, v in sorted(state.items())], schema
    )


def ivf_cells(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    sample_order: str = "hash",
    assign_spill: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """IVF index build: (centroids, cell assignment).

    Initial centroids are a deterministic stride sample over the bounded
    ``n_cells·1000``-id training set, TakeOrdered by
    :func:`sample_order_key` — ``"hash"`` (default) orders by
    ``xxhash64(id)``, a deterministic uniform shuffle of the id space,
    so the training set is an UNBIASED corpus sample even when ids
    correlate with ingest time/source (VERDICT r04: the previous
    id-prefix fit centroids to the oldest slice at 100 TB); ``"id"``
    keeps that legacy prefix, pinned by the `similarity_index_cells`
    SQL oracle; ``"mix"`` is the oracle-replayable unbiased variant.
    ``refine_iters`` > 0 then runs that many distributed spherical
    k-means (Lloyd) iterations via :func:`kmeans_refine` — each a linear
    broadcast-assign pass + a map-side-combined mean, deterministic for
    the fixed sample (measured recall@5 at sf0.01, nprobe=4/16 cells,
    hash sample: 0.56 seeds-only → 0.62 at 3 iters → 0.74 with
    ``assign_spill=2``). Every corpus vector then joins its nearest centroid
    via a broadcast of the K centroids + one per-vector argmax, i.e. a
    single linear pass.
    Returns (centroids(cell, cv), assigned(id, cell, vector)).
    """
    v = as_double_array(vec_col)
    ok = sample_order_key(id_col, sample_order)
    ids = (
        corpus.select(ok.alias("_ok"), F.col(id_col).alias("_cid"))
        .orderBy("_ok", "_cid")
        .limit(n_cells * 1000)
    )
    # stride-sample K ids deterministically
    w = Window.orderBy("_ok", "_cid")
    sampled = (
        ids.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(((F.col("_rn") - 1) % F.greatest((F.col("_n") / n_cells).cast("int"), F.lit(1))) == 0)
        .limit(n_cells)
    )
    centroids = (
        sampled.join(corpus, sampled._cid == F.col(id_col))
        .select(F.col("_cid").alias("cell"), v.alias("_cv"))
    )
    if refine_iters:
        # Train on the same bounded id prefix the seeds come from (left
        # semi on the TakeOrdered id set): the Lloyd passes never scan
        # the full corpus — the standard sample-trained k-means shape at
        # 100 TB (n_cells·1000 training vectors bound the fit); only the
        # final assignment below touches every vector.
        pts = corpus.join(
            ids.select(F.col("_cid").alias(id_col)), id_col, "left_semi"
        ).select(F.col(id_col).alias("_pid"), v.alias("_pv"))
        centroids = kmeans_refine(
            pts, centroids, group_cols=[], code_col="cell",
            iters=refine_iters, metric="cosine",
        )
    assigned = ivf_assign(
        corpus, centroids, id_col=id_col, vec_col=vec_col,
        assign_spill=assign_spill,
    )
    return centroids, assigned


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_spill: int = 1,
) -> DataFrame:
    """Assign vectors to their nearest IVF cell(s) under STANDING
    centroids — the build step of :func:`ivf_cells` and, called alone,
    the INCREMENTAL APPEND path: a new ingest batch broadcast-joins the
    existing K centroids and lands in the standing index without any
    retraining or corpus rescan (one linear pass over the batch only).

    Rank on the ROUNDED cosine (6 digits) with a cell-id tiebreak: the
    raw double differs in the last ulp across engines/FMA fusions, so
    the rounded ordering is what makes the assignment engine-stable
    (and SQL-oracle-checkable) — the suite's standard treatment of
    transcendental scores.

    Optimization round 11 (guide §2.3/§2.4 — remove the shuffle
    outright): the previous form joined every vector against a
    broadcast centroid frame (a K-way row fanout carrying the full
    vector payload) and ranked with a ``Window.partitionBy(id)`` —
    one Exchange hash-partitioning n·K rows, EACH ROW CARRYING THE
    dim-double VECTOR, plus a sort. At 100 TB that shuffles K × corpus
    bytes to decide placement the row itself already has all the
    inputs for. The centroid table is bounded by construction (K·dim
    doubles — the same broadcast-sized artifact), so it is collected
    once at plan-build and inlined as LITERALS: each vector row
    computes its rounded cosine to all K centroids, takes the
    top-``assign_spill`` via one ``array_sort`` over K structs, and
    explodes — a narrow Project+Generate with ZERO exchanges, no
    window, no K-way fanout. Arithmetic is unchanged: the same
    dot / (norm_v · norm_c) fold on the same rounded 6-digit grid with
    the same (cosine desc, cell asc) tiebreak — the struct sort on
    (−cosine, cell) is that exact ordering (−cosine is normalized with
    ``+ 0.0`` so a −0.0 from negating a zero score compares equal to
    +0.0, exactly as the window sort normalized floats).

    ``assign_spill`` > 1 is ScaNN/SOAR-style SPILLED assignment: each
    vector lands in its top-``assign_spill`` cells, so a query whose
    probe list misses a boundary vector's best cell can still find it
    via the second — recall at fixed nprobe rises for ``spill``× index
    rows (measured at sf0.01, nprobe=4/16, refined hash-sample
    centroids: 0.62 → 0.74 at spill=2). Probe paths MUST dedupe
    candidates on (query, id) when consuming a spilled index
    (``spilled=True`` on the topk operators).
    Output: (id, cell, vector) — ``assign_spill`` rows per vector.
    """
    cell_type = centroids.schema["cell"].dataType
    cell_sql = cell_type.simpleString()
    cent_rows = centroids.select("cell", "_cv").collect()
    v = as_double_array(vec_col)
    if not cent_rows:
        return vectors.select(
            F.col(id_col),
            F.lit(None).cast(cell_type).alias("cell"),
            v.alias("vector"),
        ).filter(F.lit(False))

    top = _centroid_topn_expr(
        cent_rows, cell_sql, "_v", "_nv", int(assign_spill), rounded=True
    )
    return (
        vectors.select(F.col(id_col), v.alias("_v"))
        .withColumn("_nv", _norm(F.col("_v")))
        .select(F.col(id_col), F.col("_v"), F.explode(top).alias("_t"))
        .select(
            id_col,
            F.col("_t.cell").alias("cell"),
            F.col("_v").alias("vector"),
        )
    )


def _centroid_topn_expr(
    cent_rows, cell_sql: str, vec_name: str, norm_name: str, n: int,
    rounded: bool, with_cv: bool = False,
):
    """Top-``n`` nearest cells under STANDING centroids as ONE parsed
    SQL expression over a vector column ``vec_name`` (with its
    precomputed norm in ``norm_name``) — the shared selector behind
    :func:`ivf_assign` (rounded ranking, its oracle-stable contract)
    and :func:`_probe_cells` (the IVF probe ranks on the RAW cosine,
    the IVF-PQ probes on the rounded one).

    A Column-API build of K·dim literals costs thousands of py4j round
    trips per call; the parser ingests the same tree in one call, and
    the centroid table itself is a fully FOLDABLE array literal — the
    optimizer's constant folding collapses it to a single Literal node,
    so every consumer plan carries K·dim doubles as ONE leaf instead of
    a K·dim-node expression tree (keeps Catalyst's rule passes O(plan),
    not O(plan · centroids)). Double literals round-trip exactly via
    repr() + a string cast (Java's parseDouble is correctly rounded).

    The per-centroid score is verbatim ``cosine_expr``: the same
    zip_with/aggregate left fold, the same dot / (norm_v · norm_c)
    order (and, when ``rounded``, the same round(…, 6)); −cos is
    normalized with + 0.0D so a −0.0 from negating a zero score
    compares equal to +0.0, exactly as a window sort normalizes floats.
    The struct sort on (−cosine, cell) is the (cosine desc, cell asc)
    window ordering. ``with_cv`` appends each cell's centroid as a last
    ``cv`` field; cell ids are unique, so it never decides the order."""
    import math

    def dlit(x: float) -> str:
        return f"CAST('{x!r}' AS DOUBLE)"

    structs = []
    for r in cent_rows:
        cv = [float(x) for x in r["_cv"]]
        # Python loop mirrors _norm's left-to-right IEEE fold exactly
        # (same double ops in the same order → identical value).
        acc = 0.0
        for x in cv:
            acc = acc + x * x
        cnorm = math.sqrt(acc)
        structs.append(
            "named_struct('cell', CAST('" + str(r["cell"]) + "' AS "
            + cell_sql + "), 'nrm', " + dlit(cnorm) + ", 'cv', array("
            + ",".join(dlit(x) for x in cv) + "))"
        )
    score = (
        "aggregate(zip_with(" + vec_name + ", c.cv, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x) / (" + norm_name + " * c.nrm)"
    )
    if rounded:
        score = "round(" + score + ", 6)"
    return F.expr(
        "slice(array_sort(transform(array(" + ",".join(structs) + "), "
        "c -> named_struct('_nc', -" + score
        + " + 0.0D, 'cell', c.cell" + (", 'cv', c.cv" if with_cv else "")
        + "))), 1, " + str(int(n)) + ")"
    )


def _probe_cells(
    qv: DataFrame, centroids: DataFrame, nprobe: int, rounded: bool,
    with_cv: bool = False,
) -> DataFrame:
    """The probe-cell selector of the IVF search operators: each query
    row of ``qv`` (``query_id``, ``_qv``, then any carried columns)
    becomes one row per each of its ``nprobe`` nearest cells, as
    (query_id, _qv, cell, carried...). The centroid table is collected
    once at plan build and ranked per row by :func:`_centroid_topn_expr`
    — a narrow Project+Generate: no query × centroid fan-out, no
    exchange, no sort. ``rounded`` picks the score the cells rank on:
    the raw cosine (:func:`cosine_topk_ivf`) or ``round(cosine, 6)``,
    :func:`ivf_assign`'s ordering (the IVF-PQ probes); ties go to the
    lower cell id either way. A NaN score ranks last, where a window
    sort would rank it first. ``with_cv`` adds the selected cell's
    centroid as ``_cv`` after ``cell``, taken from the same literal, so
    no caller joins the centroid frame again. No centroids → no probe
    rows."""
    extra = qv.columns[2:]
    cell_sql = centroids.schema["cell"].dataType.simpleString()
    cent_rows = centroids.select("cell", "_cv").collect()
    if not cent_rows:
        cv = [F.lit(None).cast("array<double>").alias("_cv")] if with_cv else []
        return qv.select(
            "query_id", "_qv", F.lit(None).cast(cell_sql).alias("cell"),
            *cv, *extra,
        ).filter(F.lit(False))
    top = _centroid_topn_expr(
        cent_rows, cell_sql, "_qv", "_qn", int(nprobe), rounded=rounded,
        with_cv=with_cv,
    )
    cv = [F.col("_t.cv").alias("_cv")] if with_cv else []
    return (
        qv.withColumn("_qn", _norm(F.col("_qv")))
        .select("query_id", "_qv", F.explode(top).alias("_t"), *extra)
        .select(
            "query_id", "_qv", F.col("_t.cell").alias("cell"), *cv, *extra
        )
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    refine_iters: int = 0,
    cells: tuple[DataFrame, DataFrame] | None = None,
    spilled: bool = False,
    match_col: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe only the ``nprobe`` cells nearest each
    query. The index build is one linear pass (``refine_iters`` adds
    distributed k-means passes — see :func:`ivf_cells`; ``cells`` accepts
    a prebuilt/materialized (centroids, assigned) index so a session or a
    parquet-persisted index is probed instead of rebuilt); each query
    scores |corpus|·nprobe/n_cells candidates via an equi-join on cell id
    — the classic inverted-file trade of recall for a bounded candidate
    list.

    ``match_col`` (round 9) makes the probe a PRE-FILTERED constrained
    search over the UNCHANGED shared index: corpus attributes join onto
    the assignment rows (one linear equi-join on id) and candidates
    drop before ranking unless their attribute equals the query's — so
    each query still ranks a full k from its eligible candidates, at
    zero index growth (the alternative — a per-attribute index — pays
    storage per distinct value; the over-fetch post-filter alternative
    is graded by ``similarity_filtered_recall``).

    Optimization round 12 (guide §2.4/§3.1): probe-cell selection used
    to fan every query out against a broadcast centroid frame (K rows
    per query, EACH CARRYING the dim-double query vector) and rank with
    a ``Window.partitionBy(query_id)`` — one Exchange + sort whose only
    job is to undo the fanout. The centroid table is bounded by
    construction, so the selection now runs through the same
    constant-folded literal selector as :func:`ivf_assign`
    (:func:`_probe_cells` with ``rounded=False`` — the probe window
    ranked on the RAW cosine, and the selector preserves that exact
    (cosine desc, cell asc) order): a narrow Project+Generate, zero
    exchanges. The candidate join then BROADCASTS the bounded probe
    list against the corpus-sized assignment (queries are a bounded
    broadcast by the operator contract) — the assignment table is
    never shuffled by the probe."""
    centroids, assigned = (
        cells
        if cells is not None
        else ivf_cells(corpus, n_cells, id_col, vec_col, refine_iters)
    )
    qsel = [
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
    ]
    if match_col:
        qsel.append(F.col(match_col).alias("_qm"))
        assigned = assigned.join(
            corpus.select(F.col(id_col), F.col(match_col).alias("_cm")),
            id_col,
        )
    probes = _probe_cells(
        queries.select(*qsel), centroids, nprobe, rounded=False
    )
    cand = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col(id_col)
    )
    if match_col:
        cand = cand.filter(F.col("_cm") == F.col("_qm"))
    cos = cosine_expr(F.col("_qv"), F.col("vector"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = cand.select(
        "query_id", F.col(id_col).alias("neighbor_id"), cos.alias("cosine")
    )
    if spilled:
        # A spilled index (assign_spill > 1) can surface the same
        # neighbor through two probed cells — identical (q, n, cosine)
        # rows, deduped on the narrow 3-column projection (vectors are
        # already gone) before the rank.
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return _rank_topk(scored, "cosine", k)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 12,
    tables: int = 4,
    round_digits: int | None = 6,
    num_partitions: int | None = None,
    n_probes: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing an LSH bucket
    with the query in ≥1 of ``tables`` hash tables.

    At 100 TB the corpus is hashed once (linear scan), bucketed by
    (htable, signature) — an equi-join replaces the cross join; recall is
    tuned with planes/tables, and ``n_probes`` > 0 adds MULTI-PROBE
    query-side bucket probes (:func:`lsh_query_probes`): the recall of
    ~n_probes× more tables at the SAME index size and corpus-side cost
    (measured at sf0.01, planes=6/tables=8, canonical perturbation
    sequence: recall@5 0.36 → 0.68 at n_probes=2, 0.80 at 4, 0.94 at
    6 and 7 — the r08 canonical ordering beats the r07 head-of-list
    cut, which read 0.74/0.86/0.90 at the same probe counts).
    """
    if n_probes:
        qs = lsh_query_probes(
            queries, "query_id", dim, planes, tables, n_probes,
            id_col, vec_col,
        )
    else:
        qs = lsh_signatures(
            queries, "query_id", dim, planes, tables, id_col, vec_col
        )
    cs = lsh_signatures(
        corpus, "neighbor_id", dim, planes, tables, id_col, vec_col, num_partitions
    )
    # Dedup multi-table hits on the id PAIR only — the previous form ran
    # DISTINCT over rows carrying both embedding vectors, shuffling ~16×
    # more bytes than the ids; vectors re-attach afterwards (query side
    # broadcast, neighbor side an id-key join against the corpus scan).
    cand = (
        cs.drop(f"_neighbor_id_v")
        .join(F.broadcast(qs.drop("_query_id_v")), on=["htable", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("_cv")
    )
    cand = cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
    cos = cosine_expr(F.col("_qv"), F.col("_cv"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = cand.select("query_id", "neighbor_id", cos.alias("cosine"))
    return _rank_topk(scored, "cosine", k)


def cosine_candidate_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    planes: int = 2,
    tables: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine ≥ threshold pairs with an LSH-bucketed candidate source —
    the scale path for embedding near-dedup (no cross join anywhere).

    Plan: one narrow pass computes random-hyperplane signatures per vector
    (:func:`lsh_signatures` — pandas-UDF matmul, zero joins), then a
    self-equi-join on (htable, sig) yields candidate id pairs, deduped on
    the ids alone (vectors re-attach by id-key join afterwards so the
    distinct shuffle carries ids, not vectors), and the exact rounded
    cosine is verified per candidate. Recall for a pair at angle θ is
    1-(1-p^planes)^tables with p = 1-θ/π; planes low / tables high biases
    to recall ≈ 1 (for threshold 0.45, planes=2 × tables=32 gives a
    per-pair miss probability ~3e-8 — and the hyperplanes are seeded, so
    the output is deterministic). At production thresholds (≥ 0.7) the
    same machinery prunes aggressively; near the random-pair mode it
    degrades gracefully toward all-pairs *candidates* while the plan stays
    an equi-join (linear shuffle, no CartesianProduct).
    Output: (id_a, id_b, cosine) with id_a < id_b.
    """
    sigs = lsh_signatures(
        emb, "vec", dim=dim, planes=planes, tables=tables,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col("vec").alias("_id"), "htable", "sig")
    a = sigs.select(F.col("_id").alias("id_a"), "htable", "sig")
    b = sigs.select(F.col("_id").alias("id_b"), "htable", "sig")
    cand = (
        a.join(b, on=["htable", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Per-vector norms are computed ONCE on the (small) vector table and
    # carried through the id-key joins — the per-pair expression is then a
    # single dot product + one divide instead of three array reductions.
    # norm(a)·norm(b) multiplies the same doubles either way, so the
    # rounded cosine is bit-identical to the inline form.
    e = emb.select(F.col(id_col), as_double_array(vec_col).alias("_v"))
    e = e.select(id_col, "_v", _norm(F.col("_v")).alias("_n"))
    cand = cand.join(
        e.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
                 F.col("_n").alias("_na")), "id_a"
    ).join(
        e.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
                 F.col("_n").alias("_nb")), "id_b"
    )
    cos = F.round(
        _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    return (
        cand.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs exact cosine ≥ threshold over a bounded slice (id_a < id_b).
    Quadratic — the exact-verification baseline only; at corpus scale feed
    LSH/IVF candidates through :func:`cosine_topk_lsh`-style pruning and
    run this check on candidates. Scores rounded to 6 digits for
    engine-stable threshold comparison."""
    e = emb.select(F.col(id_col), as_double_array(vec_col).alias("_v"))
    a = e.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"))
    b = e.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"))
    cos = F.round(cosine_expr(F.col("_va"), F.col("_vb")), 6)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_pairs_blocked(
    emb: DataFrame,
    threshold: float,
    blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold expressed WITHOUT a cartesian
    product — the ground-truth pass for the semantic rows of
    ``dedup_blocking_report`` (VERDICT r07 task 1). Work is the
    inherent N²/2 dot products (this is ground truth, nothing is
    pruned), but the PLAN is rectangle blocking: ids hash into
    ``blocks`` buckets; each unordered bucket pair (i ≤ j) is one
    group; every vector replicates to the ``blocks`` rectangles it
    touches (one narrow explode), and each rectangle scores as ONE
    numpy Gram slab inside applyInPandas — the SemDeDup pair-stage
    lesson (15 s → 0.3 s vs interpreted expressions), with
    blocks·(blocks+1)/2 evenly-sized partition-parallel groups and no
    CartesianProduct node or single-partition gather anywhere. Each
    pair lands in exactly one rectangle (the (min, max) of its two
    blocks), so no dedup pass is needed. Shuffle is N·blocks
    (id, vec) rows. Output: (id_a < id_b, cosine ≥ threshold)."""
    e = emb.select(
        F.col(id_col).alias("_id"),
        as_double_array(vec_col).alias("_v"),
        F.pmod(F.col(id_col).cast("long"), F.lit(blocks)).alias("_b"),
    )
    expl = e.select(
        "_id", "_v", "_b",
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("_t"),
    ).select(
        "_id", "_v", "_b",
        F.least("_b", "_t").alias("_ri"),
        F.greatest("_b", "_t").alias("_rj"),
    )

    empty = pd.DataFrame(
        {"id_a": pd.Series(dtype="int64"),
         "id_b": pd.Series(dtype="int64"),
         "cosine": pd.Series(dtype="float64")}
    )

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        ri, rj = int(pdf["_ri"].iloc[0]), int(pdf["_rj"].iloc[0])
        ids = pdf["_id"].to_numpy()
        M = np.vstack(pdf["_v"].to_numpy())
        nrm = np.sqrt((M * M).sum(axis=1))
        if ri == rj:
            G = np.round((M @ M.T) / np.outer(nrm, nrm), round_digits)
            keep = np.triu(G >= threshold, k=1)
            ia, ib = np.nonzero(keep)
            pa, pb = ids[ia], ids[ib]
        else:
            left = pdf["_b"].to_numpy() == ri
            if not left.any() or left.all():
                return empty
            A, B = M[left], M[~left]
            G = np.round(
                (A @ B.T) / np.outer(nrm[left], nrm[~left]), round_digits
            )
            ia, ib = np.nonzero(G >= threshold)
            pa, pb = ids[left][ia], ids[~left][ib]
        return pd.DataFrame(
            {"id_a": np.minimum(pa, pb), "id_b": np.maximum(pa, pb),
             "cosine": G[ia, ib]}
        )

    return expl.groupBy("_ri", "_rj").applyInPandas(
        gram, "id_a long, id_b long, cosine double"
    )


def mine_hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int | None = 6,
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector, the top-k
    most-similar corpus vectors carrying a DIFFERENT label — the pairs a
    contrastive/triplet trainer wants, because easy negatives (random,
    dissimilar) contribute no gradient while these near-miss negatives do.

    Plan shape: the (small, bounded) anchor set broadcasts with its labels
    against one corpus scan; the label-mismatch predicate rides the join
    condition so same-label rows never reach the scorer; scores are
    rounded before the per-anchor rank for engine-stable ordering. Cost
    is |corpus| × |anchors| — linear in the corpus for a bounded anchor
    set; an unbounded anchor set should prune candidates through the
    LSH/IVF paths first and mine from the candidate list instead.
    Output: (query_id, query_label, neighbor_id, neighbor_label, rnk,
    cosine).
    """
    q = anchors.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        as_double_array(vec_col).alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        as_double_array(vec_col).alias("_cv"),
    )
    cos = cosine_expr(F.col("_qv"), F.col("_cv"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = c.join(
        F.broadcast(q),
        on=(F.col("query_id") != F.col("neighbor_id"))
        & (F.col("query_label") != F.col("neighbor_label")),
    ).select(
        "query_id", "query_label", "neighbor_id", "neighbor_label",
        cos.alias("cosine"),
    )
    # rnk as long: the suite's ranked outputs are uniformly BIGINT so the
    # driver's type-sensitive schema compare matches the SQL oracle
    # (ADVICE r04 — row_number() is int32 natively).
    return _rank_topk(scored, "cosine", k).withColumn(
        "rnk", F.col("rnk").cast("long")
    )


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote label prediction — the embedding-quality probe
    (a leave-one-out classification pass over labeled vectors): each
    query's label is predicted as the modal label of its k exact nearest
    neighbors, tie-broken to the smallest label for determinism.

    Plan shape: one :func:`cosine_topk` pass (broadcast bounded query
    set, linear corpus scan) → a label equi-join on the neighbor id → a
    (query, label) hash aggregate → a deterministic argmax via
    ``min(struct(-votes, label))``. Output: (query_id, true_label,
    predicted_label, n_votes, correct).
    """
    topk = cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "neighbor_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    best = votes.groupBy("query_id").agg(
        F.min(
            F.struct((-F.col("votes")).alias("_nv"), F.col("neighbor_label"))
        ).alias("_b")
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return best.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "true_label",
        F.col("_b.neighbor_label").alias("predicted_label"),
        (-F.col("_b._nv")).cast("long").alias("n_votes"),
        (F.col("_b.neighbor_label") == F.col("true_label")).alias("correct"),
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    shortlist: int = 20,
    lambda_: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k: greedily pick, from
    each query's ``shortlist`` nearest candidates, the item maximizing
    λ·sim(query, cand) − (1−λ)·max_{s∈selected} sim(cand, s) — the search
    diversifier that stops the result page being k copies of one cluster.

    The greedy step is inherently sequential IN k, but independent ACROSS
    queries, so the scale shape is: one :func:`cosine_topk` pass bounds
    each query to ``shortlist`` rows (the expensive, corpus-sized part
    stays a linear scan), vectors re-attach by id join, and the per-query
    greedy loop runs inside ``applyInPandas`` — an Arrow-batched group of
    ≤ shortlist rows per query, a few-microsecond numpy loop, fully
    parallel across queries. Scores round to 6 digits with id tiebreaks
    before each greedy pick, so the selection is deterministic.
    Output: (query_id, neighbor_id, mmr_rank, relevance, mmr_score).
    """
    import numpy as np
    import pandas as pd

    short = cosine_topk(
        corpus, queries, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id", F.col("cosine").alias("relevance"))
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("_cv")
    )
    grouped = short.join(cvec, "neighbor_id")

    lam = float(lambda_)
    kk = int(k)

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["neighbor_id"]).reset_index(drop=True)
        V = np.vstack(pdf["_cv"].to_numpy())
        n = np.sqrt((V * V).sum(axis=1))
        sims = np.round((V @ V.T) / np.outer(n, n), 6)
        rel = pdf["relevance"].to_numpy()
        ids = pdf["neighbor_id"].to_numpy()
        chosen: list[int] = []
        scores: list[float] = []
        avail = list(range(len(pdf)))
        for _ in range(min(kk, len(pdf))):
            best_i, best_s = None, None
            for i in avail:
                div = max((sims[i][j] for j in chosen), default=0.0)
                s = round(lam * rel[i] - (1.0 - lam) * div, 6)
                # deterministic: score desc, id asc
                if best_s is None or s > best_s or (
                    s == best_s and ids[i] < ids[best_i]
                ):
                    best_i, best_s = i, s
            chosen.append(best_i)
            scores.append(best_s)
            avail.remove(best_i)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": ids[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype="int64"),
                "relevance": rel[chosen],
                "mmr_score": np.array(scores),
            }
        )

    return grouped.groupBy("query_id").applyInPandas(
        pick,
        schema=(
            "query_id long, neighbor_id long, mmr_rank long, "
            "relevance double, mmr_score double"
        ),
    )


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    sample_order: str = "hash",
) -> DataFrame:
    """Product-quantization codebooks: split every vector into ``m``
    subvectors of dim/m components and learn ``k`` centroids per
    subspace. Seed centroids are a deterministic stride sample of a
    BOUNDED ``k·1000``-id training set, TakeOrdered by
    :func:`sample_order_key` (``"hash"`` default: an unbiased
    hash-shuffled sample — VERDICT r04 replaced the id-prefix that fit
    codebooks to the oldest corpus slice; never a full sort, so the
    stride window's single-partition stage still sees at most k·1000 id
    rows regardless of corpus size); the sampled ids then
    broadcast-join back to the corpus for their vectors (VERDICT r03
    task 1 — the previous form funneled every corpus row, vectors
    included, through one global-window task). ``refine_iters`` > 0
    runs distributed L2 Lloyd iterations per subspace via
    :func:`kmeans_refine` (assignment equi-joins on ``sub``, update is
    a map-side-combined mean — all m subspaces refine in the same two
    passes per iteration). Output: (sub, code, _cb: array<double>) —
    m·k rows, broadcast-sized by construction (dim·k doubles total,
    independent of corpus size).
    """
    sub_dim = dim // m
    ok = sample_order_key(id_col, sample_order)
    ids = (
        corpus.select(ok.alias("_ok"), F.col(id_col).alias("_sid"))
        .orderBy("_ok", "_sid")
        .limit(k * 1000)
    )
    w = Window.orderBy("_ok", "_sid")
    sampled_ids = (
        ids.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(
            ((F.col("_rn") - 1)
             % F.greatest((F.col("_n") / k).cast("int"), F.lit(1))) == 0
        )
        .limit(k)
        .withColumn(
            "code", F.row_number().over(Window.orderBy("_ok", "_sid")) - 1
        )
        .select("_sid", "code")
    )
    sampled = F.broadcast(sampled_ids).join(
        corpus.select(id_col, as_double_array(vec_col).alias("_v")),
        sampled_ids._sid == F.col(id_col),
    )
    subs = F.explode(
        F.array(*[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("_v", s * sub_dim + 1, sub_dim).alias("_cb"),
            )
            for s in range(m)
        ])
    )
    cb = sampled.select("code", subs.alias("_s")).select(
        F.col("_s.sub").alias("sub"), "code", F.col("_s._cb").alias("_cb")
    )
    if refine_iters:
        psubs = F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice(as_double_array(vec_col), s * sub_dim + 1, sub_dim)
                    .alias("_sv"),
                )
                for s in range(m)
            ])
        )
        # Bounded training prefix (left semi on the k·1000 TakeOrdered id
        # set, same policy as the seeds): the per-subspace Lloyd passes
        # fit on a bounded sample, never the full corpus — only
        # :func:`pq_encode` touches every vector.
        train = corpus.join(
            ids.select(F.col("_sid").alias(id_col)), id_col, "left_semi"
        )
        pts = train.select(F.col(id_col).alias("_pid"), psubs.alias("_s")).select(
            "_pid", F.col("_s.sub").alias("sub"), F.col("_s._sv").alias("_pv")
        )
        cb = kmeans_refine(
            pts, cb.withColumnRenamed("_cb", "_cv"),
            group_cols=["sub"], code_col="code",
            iters=refine_iters, metric="l2", vec_len=sub_dim,
        ).withColumnRenamed("_cv", "_cb")
    return cb


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: list[str] | None = None,
) -> DataFrame:
    """PQ-encode a corpus: each vector compresses to ``m`` codebook codes
    — at (m=8, k=16) that is 8 nibbles ≈ 4 bytes per vector versus
    dim·4 bytes of float32, the ~64× memory cut that lets a 100 TB
    vector corpus's index live hot.

    Optimization round 11 (guide §2.3/§2.4): the previous plan exploded
    each vector into its m subvectors, joined the broadcast codebooks
    (an m·k row fanout per vector), and re-assembled with TWO hash
    aggregates — two Exchanges moving n·m rows to undo a fanout the
    encode itself created. The codebook table is bounded by
    construction (m·k rows, dim·k doubles total), so it is collected
    once at plan-build and inlined as LITERALS: each row computes, per
    subspace, the argmin code via ``array_min`` over k (distance, code)
    structs built from the SAME statically-unrolled L2 terms in the
    SAME left-fold order on the same 1e-6 integer grid with the same
    code tiebreak — a single narrow Project, ZERO exchanges, no
    explode, no join, no aggregate. Codes are bit-identical
    (oracle-checked); at 100 TB the encode is one codegen map over the
    scan instead of a 2·n·m-row shuffle.

    The batch pass is a ``mapInArrow`` over numpy (guide §4.2 — hand
    whole Arrow batches to vectorized native code): the distances run
    the SAME per-element ops in the SAME left-fold order as the old
    unrolled JVM expression (IEEE doubles are deterministic either
    side), the 1e-6 grid is the exact HALF_UP of the same fp product
    (see :func:`_round_half_up_nonneg`), and ``argmin`` over
    code-ascending columns is the same (distance, code) tiebreak.

    ``carry`` names extra input columns to pass through unchanged
    (the residual index build keeps (id, cell, norm) alongside the
    codes without a re-join).
    Output: (id[, carry…], codes: array<int>, _norm: double).
    """
    import pyarrow as pa

    sub_dim = dim // m
    rows = codebooks.select("sub", "code", "_cb").collect()
    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for r in rows:
        by_sub.setdefault(int(r["sub"]), []).append(
            (int(r["code"]), [float(x) for x in r["_cb"]])
        )
    # codes ascending per sub → np.argmin's first-min IS the code
    # tiebreak; ragged codebooks (never produced, but cheap to honor)
    # keep their own code lists.
    subs = []
    for s in range(m):
        entries = sorted(by_sub.get(s, []))
        codes = [c for c, _ in entries]
        mat = [cb for _, cb in entries]
        subs.append((codes, mat))
    carry = carry or []
    src = corpus.select(
        F.col(id_col), *[F.col(c) for c in carry], as_double_array(vec_col).alias("_v")
    )
    fields = [src.schema[id_col]] + [src.schema[c] for c in carry]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in fields]
        + ["codes array<int>", "_norm double"]
    )

    def encode(batches):
        import numpy as np

        cb_codes = [np.asarray(c, dtype=np.int32) for c, _ in subs]
        cb_mats = [
            np.asarray(mm, dtype=np.float64).reshape(len(cc), sub_dim)
            for (cc, mm) in subs
        ]
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            varr = batch.column(batch.num_columns - 1)
            flat = np.asarray(varr.flatten(), dtype=np.float64)
            arr = flat.reshape(n, dim)
            # _norm's left-to-right IEEE fold, vectorized across rows.
            acc = np.zeros(n)
            for i in range(dim):
                acc = acc + arr[:, i] * arr[:, i]
            norms = np.sqrt(acc)
            codes_out = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                sl = arr[:, s * sub_dim:(s + 1) * sub_dim]
                cbm = cb_mats[s]
                d = None
                for i in range(sub_dim):
                    t = sl[:, i:i + 1] - cbm[None, :, i]
                    t = t * t
                    d = t if d is None else d + t
                grid = _round_half_up_nonneg(d * 1e6)
                codes_out[:, s] = cb_codes[s][np.argmin(grid, axis=1)]
            out = {name: batch.column(j) for j, name in enumerate(
                [id_col] + carry)}
            out["codes"] = pa.array(list(codes_out), type=pa.list_(pa.int32()))
            out["_norm"] = pa.array(norms, type=pa.float64())
            yield pa.RecordBatch.from_pydict(out)

    return src.mapInArrow(encode, out_schema)


def _adc_table(qv: DataFrame, cb: DataFrame, dim: int, m: int) -> DataFrame:
    """The ADC lookup table of the PQ probes, |Q|·m·k rows: for each
    query (``query_id``, ``_qv``), sub-vector ``sub`` and codeword
    ``code`` of the codebooks ``cb``, the dot product of the query's
    sub-vector with that codeword on the 1e-6 integer grid (``_qd``),
    plus the query norm (``_qnorm``). Callers broadcast it to every
    code row; grid sums keep the scores exact under any partitioning."""
    sub_dim = dim // m
    qsubs = F.explode(
        F.array(*[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("_qv", s * sub_dim + 1, sub_dim).alias("_qs"),
            )
            for s in range(m)
        ])
    )
    qdot = _dot_unrolled(F.col("_qs"), F.col("_cb"), sub_dim)
    return (
        qv.select("query_id", _norm("_qv").alias("_qnorm"), qsubs.alias("_s"))
        .select(
            "query_id", "_qnorm",
            F.col("_s.sub").alias("sub"), F.col("_s._qs").alias("_qs"),
        )
        .join(F.broadcast(cb), "sub")
        .select(
            "query_id", "_qnorm", "sub", "code",
            F.round(qdot * 1e6).cast("long").alias("_qd"),
        )
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) approximate top-k: the query stays
    full-precision; every corpus vector is scored from its m codes via a
    per-query lookup table of subvector dot products — dot(q, x) ≈
    Σ_sub table[sub][codes[sub]], normalized by the stored corpus norm
    for cosine. The scan touches only the 4-byte codes (+1 norm), never
    the vectors: that is the PQ trade — IVF/LSH prune WHICH vectors are
    scored, PQ shrinks WHAT a score costs, and production systems stack
    them (IVF-PQ).

    Plan: codes explode to m rows per corpus vector; the (query × sub ×
    code) dot table (|Q|·m·k rows) broadcasts; one partial-aggregated sum
    per (query, id) rebuilds the approximate dot. Lookup dots accumulate
    as 1e-6-grid longs, so scores are exact integer sums — ranking is
    deterministic under any partitioning (neighbor_id tiebreak).
    Output: (query_id, neighbor_id, pq_cosine, rnk ≤ k).
    """
    cb = (
        codebooks
        if codebooks is not None
        else pq_codebooks(corpus, dim, m, n_codes, id_col, vec_col)
    )
    enc = (
        encoded
        if encoded is not None
        else pq_encode(corpus, cb, dim, m, id_col, vec_col)
    )

    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
    )
    table = _adc_table(qv, cb, dim, m)
    code_rows = enc.select(
        F.col(id_col).alias("neighbor_id"), "_norm",
        F.posexplode("codes").alias("sub", "code"),
    )
    scored = (
        code_rows.join(F.broadcast(table), ["sub", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.first("_norm").alias("_norm"),
            F.first("_qnorm").alias("_qnorm"),
            F.sum("_qd").alias("_adot"),
        )
        .select(
            "query_id", "neighbor_id",
            F.round(
                F.col("_adot") / 1e6 / (F.col("_norm") * F.col("_qnorm")), 6
            ).alias("pq_cosine"),
        )
    )
    return _rank_topk(scored, "pq_cosine", k)


def sq8_params(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension (min, max) training pass for SQ8 scalar
    quantization (the FAISS ``ScalarQuantizer`` QT_8bit layout — the
    simplest production vector compression, VERDICT r07 task 3): each
    dimension maps independently onto 256 levels between its corpus
    min and max. One linear scan: posexplode to (pos, x) rows, then a
    min/max aggregate over ``dim`` groups — partial aggregation folds
    every partition to ``dim`` rows map-side, so the exchange carries
    ~dim rows per partition regardless of corpus size. Output:
    (pos, vmin, vmax), ``dim`` rows, broadcast-sized by construction."""
    v = as_double_array(vec_col)
    return (
        corpus.select(F.posexplode(v).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
    )


def sq8_encode(
    corpus: DataFrame,
    params: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8-encode a corpus: each float64 dimension compresses to one
    uint8 level, ``code = floor((x - vmin) / scale + 0.5)`` with
    ``scale = (vmax - vmin) / 255`` (floor-of-shifted rather than
    banker's rint so a SQL oracle reproduces every code bit-exactly —
    subtraction, division, addition, floor are each single IEEE ops
    with no FMA-fusible chain) — dim bytes per vector versus
    dim·4 of float32, the 4× cut that sits between raw vectors and PQ
    in the encoding ladder. One Arrow-vectorized pass: the ``dim``-row
    params table collects to the driver (bounded by construction) and
    the whole batch encodes as two numpy broadcasts; the TRUE vector
    norm is kept alongside (JVM-side expression) so cosine scoring
    normalizes exactly like the PQ family. A zero-span dimension
    (constant across the corpus) encodes to 0 and decodes to vmin via
    the additive term in :func:`cosine_topk_sq8`.
    Output: (id, codes: array<int>, _norm: double)."""
    from pyspark.sql.functions import pandas_udf

    rows = sorted(params.collect(), key=lambda r: r.pos)
    vmin = np.array([r.vmin for r in rows], dtype=np.float64)
    span = np.array([r.vmax - r.vmin for r in rows], dtype=np.float64)
    scale = np.where(span > 0, span / 255.0, 1.0)

    @pandas_udf("array<int>")
    def codes(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy())  # N × dim
        C = np.clip(
            np.floor((M - vmin) / scale + 0.5), 0, 255
        ).astype(np.int32)
        return pd.Series(list(C))

    v = as_double_array(vec_col)
    return corpus.select(
        id_col, codes(v).alias("codes"), _norm(v).alias("_norm")
    )


def cosine_topk_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    params: DataFrame | None = None,
    encoded: DataFrame | None = None,
    match_col: str | None = None,
) -> DataFrame:
    """SQ8 asymmetric-distance (ADC) approximate top-k: the query stays
    full-precision; every corpus vector is scored from its uint8 codes
    without ever decoding — ``dot(q, x̂) = Σ q_i·vmin_i +
    Σ (q_i·scale_i)·code_i``, so the per-query work is one precomputed
    (pos → q_i·scale_i) table plus an integer-weighted sum over code
    rows. The scan touches only the dim-byte codes (+1 norm), never
    the vectors — same trade as PQ ADC but with zero training beyond
    a min/max pass, the reason SQ8 is the default first compression
    step in production ANN stacks.

    Plan mirrors :func:`cosine_topk_pq`: codes posexplode to dim rows
    per corpus vector; the per-(query, pos) weight table (|Q|·dim rows)
    broadcasts; one partial-aggregated sum per (query, id) rebuilds the
    approximate dot. Weights and the per-query additive ``Σ q·vmin``
    term accumulate as 1e-6-grid longs, so scores are exact integer
    sums — ranking is deterministic under any partitioning
    (neighbor_id tiebreak).
    Output: (query_id, neighbor_id, sq8_cosine, rnk ≤ k).

    ``match_col`` (round 10, VERDICT r09 task 4) makes the ADC scan a
    PRE-FILTERED constrained search over the UNCHANGED standing codes:
    corpus attributes join onto the code table (one linear equi-join on
    id), the attribute rides the broadcast query table, and
    non-matching candidates drop in the ADC join condition — BEFORE any
    scoring work, so each query ranks a full k from its eligible set at
    zero index growth."""
    p = params if params is not None else sq8_params(corpus, id_col, vec_col)
    enc = (
        encoded
        if encoded is not None
        else sq8_encode(corpus, p, id_col, vec_col)
    )
    if match_col:
        enc = enc.join(
            corpus.select(F.col(id_col), F.col(match_col).alias("_cm")),
            id_col,
        )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("_qv"),
        *([F.col(match_col).alias("_qm")] if match_col else []),
    )
    scale = F.when(
        F.col("vmax") > F.col("vmin"),
        (F.col("vmax") - F.col("vmin")) / F.lit(255.0),
    ).otherwise(F.lit(1.0))
    qtable = (
        qv.select(
            "query_id", _norm("_qv").alias("_qnorm"),
            F.posexplode("_qv").alias("pos", "_q"),
            *(["_qm"] if match_col else []),
        )
        .join(F.broadcast(p), "pos")
        .select(
            "query_id", "_qnorm", "pos",
            F.round(F.col("_q") * scale * 1e6).cast("long").alias("_qs"),
            F.round(F.col("_q") * F.col("vmin") * 1e6)
            .cast("long").alias("_qvm"),
            *(["_qm"] if match_col else []),
        )
    )
    code_rows = enc.select(
        F.col(id_col).alias("neighbor_id"), "_norm",
        F.posexplode("codes").alias("pos", "code"),
        *(["_cm"] if match_col else []),
    )
    adc = code_rows.join(F.broadcast(qtable), "pos")
    if match_col:
        # Pre-filter: non-matching candidates leave BEFORE the ADC sum.
        adc = adc.filter(F.col("_cm") == F.col("_qm"))
    scored = (
        adc
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.first("_norm").alias("_norm"),
            F.first("_qnorm").alias("_qnorm"),
            (F.sum(F.col("_qs") * F.col("code")) + F.sum("_qvm"))
            .alias("_adot"),
        )
        .select(
            "query_id", "neighbor_id",
            F.round(
                F.col("_adot") / 1e6 / (F.col("_norm") * F.col("_qnorm")), 6
            ).alias("sq8_cosine"),
        )
    )
    return _rank_topk(scored, "sq8_cosine", k)


def _rerank_exact(
    scored: DataFrame, qv: DataFrame, corpus: DataFrame, rerank: int,
    k: int, id_col: str, vec_col: str,
) -> DataFrame:
    """The FAISS-style refine stage of the IVF-PQ probes: the top
    ``rerank`` ADC candidates per query (``scored``'s ``pq_cosine``)
    re-score with their TRUE vectors — an id-key join touching only
    rerank·|Q| corpus rows, against the broadcast query vectors of
    ``qv`` — and the top ``k`` rank on the exact rounded cosine.
    Output: (query_id, neighbor_id, cosine, rnk ≤ k)."""
    shortlist = _rank_topk(scored, "pq_cosine", rerank).select(
        "query_id", "neighbor_id"
    )
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("_cv")
    )
    exact = (
        shortlist.join(cvec, "neighbor_id")
        .join(F.broadcast(qv.select("query_id", "_qv")), "query_id")
        .select(
            "query_id", "neighbor_id",
            F.round(cosine_expr(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
        )
    )
    return _rank_topk(exact, "cosine", k)


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
    refine_iters: int = 0,
    cells: tuple[DataFrame, DataFrame] | None = None,
    rerank: int = 0,
    spilled: bool = False,
    match_col: str | None = None,
) -> DataFrame:
    """IVF-PQ: the production ANN stack — IVF prunes WHICH vectors are
    scored (nprobe/n_cells of the corpus per query), PQ shrinks WHAT a
    score costs (codes + lookup table, never the vectors). The index is
    cell assignment + PQ codes: at (m=8, k=16) that is ~5 bytes/vector
    hot, so a 100 TB float32 corpus's searchable index fits in ~2 TB of
    executor memory across a cluster.

    Plan: one IVF assignment pass + one PQ encode pass build the index
    (both linear, broadcast-joined); each query's nprobe cells come
    from the literal selector :func:`_probe_cells` (ranked on the
    rounded cosine, then cell id, as :func:`ivf_assign` ranks — no
    query × centroid fan-out, no exchange), the bounded probe rows are
    broadcast against the code table on cell id, and the survivors are
    ADC-scored —
    shuffle is bounded by |corpus|·nprobe/n_cells code rows, each m
    ints wide. Integer-grid score sums keep ranking deterministic.
    Output: (query_id, neighbor_id, pq_cosine, rnk ≤ k).

    ``rerank`` > 0 adds the FAISS-style REFINE stage: the top-``rerank``
    ADC candidates per query (cheap, code-only) re-score with their TRUE
    vectors — an id-key join touching only rerank·|Q| corpus rows — and
    the final top-k ranks on the exact rounded cosine. This removes
    quantization error from the final ORDERING while the expensive exact
    math runs on a bounded candidate set (measured recall@5 at sf0.01:
    0.66 ADC-only → 0.82 with rerank=20 at the same nprobe — the
    residual miss is IVF cell pruning, which rerank cannot recover).
    Output
    columns become (query_id, neighbor_id, cosine, rnk ≤ k).

    ``match_col`` (round 10, VERDICT r09 task 4) pre-filters the ADC
    candidate rows: corpus attributes join onto the searchable index
    (one linear equi-join on id), queries carry theirs through the
    probe list, and non-matching candidates drop BEFORE the code
    explode and ADC scoring — the constrained-search form at zero
    index growth, graded against exact filtered truth in
    ``similarity_filtered_recall``.
    """
    centroids, assigned = (
        cells
        if cells is not None
        else ivf_cells(corpus, n_cells, id_col, vec_col, refine_iters)
    )
    cb = (
        codebooks
        if codebooks is not None
        else pq_codebooks(corpus, dim, m, n_codes, id_col, vec_col)
    )
    enc = (
        encoded
        if encoded is not None
        else pq_encode(corpus, cb, dim, m, id_col, vec_col)
    )
    # The searchable index: (id, cell, codes, norm) — no raw vectors.
    index = assigned.select(id_col, "cell").join(enc, id_col)
    if match_col:
        index = index.join(
            corpus.select(F.col(id_col), F.col(match_col).alias("_cm")),
            id_col,
        )

    qv = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("_qv"),
        *([F.col(match_col).alias("_qm")] if match_col else []),
    )
    probes = _probe_cells(qv, centroids, nprobe, rounded=True).drop("_qv")
    table = _adc_table(qv, cb, dim, m)
    cand_rows = index.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col(id_col)
    )
    if match_col:
        cand_rows = cand_rows.filter(F.col("_cm") == F.col("_qm"))
    if spilled:
        # Spilled index: the same (query, id) can arrive via two probed
        # cells; WITHOUT dedupe the ADC groupBy-sum below would double
        # the dot product. Dedupe on the id pair before the explode.
        cand_rows = cand_rows.dropDuplicates(["query_id", id_col])
    cand_codes = cand_rows.select(
        "query_id", F.col(id_col).alias("neighbor_id"), "_norm",
        F.posexplode("codes").alias("sub", "code"),
    )
    scored = (
        cand_codes.join(
            F.broadcast(table), ["query_id", "sub", "code"]
        )
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.first("_norm").alias("_norm"),
            F.first("_qnorm").alias("_qnorm"),
            F.sum("_qd").alias("_adot"),
        )
        .select(
            "query_id", "neighbor_id",
            F.round(
                F.col("_adot") / 1e6 / (F.col("_norm") * F.col("_qnorm")), 6
            ).alias("pq_cosine"),
        )
    )
    if not rerank:
        return _rank_topk(scored, "pq_cosine", k)
    return _rerank_exact(scored, qv, corpus, rerank, k, id_col, vec_col)


def ivfpq_residual_index(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    cells: tuple[DataFrame, DataFrame] | None = None,
    assign_spill: int = 1,
    cache_residuals: bool = True,
    codebooks: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the residual IVF-PQ index (the one-time artifact
    :func:`cosine_topk_ivfpq_residual` probes): returns
    ``(centroids, codebooks, index)`` where index is one
    (id, cell, _tnorm, codes) row per ASSIGNMENT (``assign_spill``
    rows per vector — each cell's codes quantize THAT cell's residual
    ``v − c``). Codebooks train over every residual row via a
    composite (id, cell) key, so spill rows' larger second-centroid
    residuals are represented in the fit. All passes are linear
    broadcast joins; see the probe function for the full design
    rationale.

    ``cache_residuals`` localCheckpoints the residual frame for the
    build: THREE consumers walk it (codebook sampling, the encode, the
    index join) and the zip_with subtraction is an interpreted HOF, so
    at corpus scale this trades one n·spill×dim materialization for
    two full re-walks. The checkpoint is LAZY (``eager=False``,
    ADVICE r06): materialization happens at the first consumer's
    action, so merely constructing the index plan costs nothing.
    Executor-loss caveat: localCheckpoint truncates lineage, so a lost
    executor cannot recompute its blocks — acceptable for a build
    whose remedy is rerunning the build; a long-lived production index
    should be persisted to storage (the append path reads standing
    artifacts) rather than relying on checkpoint blocks. At the test
    scales the build is scheduler-bound (the k-means refine's
    iteration stages dominate) and the cache is measured-neutral; it
    exists for the 100 TB posture. Pass False for a fully lazy plan."""
    centroids, assigned = (
        cells
        if cells is not None
        else ivf_cells(
            corpus, n_cells, id_col, vec_col, refine_iters,
            assign_spill=assign_spill,
        )
    )
    # Residual frame: one row per (vector, assigned cell) — r relative
    # to THAT cell's centroid; the zip_with runs once per assignment
    # row (the per-code fanout downstream only ever touches the
    # pre-sliced residual subvectors).
    res = (
        assigned.join(F.broadcast(centroids), "cell")
        .select(
            F.col(id_col),
            F.col("cell"),
            _norm(F.col("vector")).alias("_tnorm"),
            F.zip_with("vector", "_cv", lambda x, c: x - c).alias("_rv"),
        )
    )
    # Composite (id, cell) key: keeps pq_encode's one-group-per-row
    # contract under spill, and lets the codebooks train on EVERY
    # residual row (primary and spill alike — the spill rows' larger
    # second-centroid residuals must be represented in the fit or
    # their encodes degrade).
    res_k = res.withColumn(
        "_ridx", F.concat_ws("#", F.col(id_col), F.col("cell"))
    )
    if cache_residuals:
        res_k = res_k.localCheckpoint(eager=False)
    # ``codebooks`` given → encode-only build: the APPEND path at scale
    # (a new batch encodes against STANDING centroids + codebooks — one
    # linear pass over the batch, no training).
    cb = (
        codebooks
        if codebooks is not None
        else pq_codebooks(
            res_k.select("_ridx", "_rv"), dim, m, n_codes, "_ridx", "_rv",
            refine_iters=refine_iters,
        )
    )
    # The searchable index: (id, cell, codes, true norm) — the encode's
    # own _norm is the residual norm, dropped in favor of |v|; the
    # narrow literal-codebook encode (round 11) carries (id, cell,
    # _tnorm) through directly, so the former _ridx self-join (one more
    # Exchange over the full index) is gone.
    enc = pq_encode(
        res_k, cb, dim, m, "_ridx", "_rv",
        carry=[id_col, "cell", "_tnorm"],
    )
    index = enc.select(id_col, "cell", "_tnorm", "codes")
    return centroids, cb, index


def cosine_topk_ivfpq_residual(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    rerank: int = 0,
    cells: tuple[DataFrame, DataFrame] | None = None,
    assign_spill: int = 1,
    prebuilt: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (VERDICT r05 task 5) — the FAISS
    ``IndexIVFPQ`` layout: PQ codes quantize the residual
    ``r = v − centroid(cell(v))`` instead of the raw vector. Residuals
    concentrate near the origin (the centroid has already absorbed the
    cell's coarse position), so the same (m, n_codes) budget spends its
    codewords on a far tighter distribution — the standard recall win
    over raw-vector PQ at identical index size.

    Scoring decomposes exactly for dot products:
    ``dot(q, v) = dot(q, c) + dot(q, r)`` — the first term is one
    scalar per (query, probed cell), computed once per selected cell
    against the centroid the cell selector carries, the second is the usual
    ADC table lookup, with the table built from the FULL query against
    the RESIDUAL codebooks (unlike L2-metric FAISS, the cosine/IP
    table is cell-independent, so it stays |Q|·m·k rows). Both terms
    accumulate on the 1e-6 integer grid, so ranking is deterministic
    under any partitioning. Cosine normalizes by the TRUE vector norm
    (stored at encode time — the residual's own norm is meaningless
    for cosine).

    ``assign_spill`` > 1 composes spilled assignment with residual
    codes the way ScaNN/SOAR does: each vector encodes ONCE PER
    ASSIGNED CELL (the residual is relative to that cell's centroid),
    so the code table grows spill× — the storage trade that lifts the
    candidate-set ceiling at fixed nprobe. A spilled candidate can
    reach a query through two cells with two different code rows; the
    score keeps the MAX over cells per (query, id) — the
    better-approximated variant — so no external dedupe contract is
    needed.

    MEASURED RESULT on the synthetic corpus (sf0.01, 16 cells, 3 Lloyd
    iters, spill=2, nprobe=8 — honest negative, VERDICT r05 task 5):
    residual encoding wins at COARSE code budgets (ADC-only recall@5
    0.32 raw → 0.40 residual at m=16,k=16) but LOSES at fine budgets
    (0.80 raw → 0.70 residual at m=32,k=32), and the reranked paths
    tie at the spilled candidate ceiling (both 0.96 at rerank=20; raw
    0.92 vs residual 0.90 at rerank=10). Cause: these embeddings are
    near-isotropic — the IVF centroids absorb little of the vector
    energy, so residuals do NOT concentrate the way they do on real
    clustered corpora, while the spill rows' second-centroid residuals
    dilute the codebook fit. On a clustered production corpus the
    FAISS-standard expectation (residual ≥ raw) should hold; the
    operator is budget-for-budget correct either way.

    The probe, ADC table and refine stage are
    :func:`cosine_topk_ivfpq`'s: linear broadcast-joined build passes
    (hoisted into :func:`ivfpq_residual_index`; pass ``prebuilt`` to
    probe a memoized/persisted index), the literal cell selector and
    its broadcast probe rows, the broadcast lookup table, and one
    shuffle of the candidate rows by query, bounded by
    |corpus|·spill·nprobe/n_cells rows. ``rerank`` > 0 adds the
    same FAISS refine stage (exact cosine on the bounded ADC
    shortlist).
    Output: (query_id, neighbor_id, pq_cosine, rnk ≤ k) — or
    (..., cosine, rnk) when reranked.
    """
    centroids, cb, index = (
        prebuilt
        if prebuilt is not None
        else ivfpq_residual_index(
            corpus, dim, m, n_codes, n_cells, id_col, vec_col,
            refine_iters, cells, assign_spill,
        )
    )

    qv = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("_qv"),
    )
    # Probe: nprobe nearest cells per query; the selected cell's
    # centroid gives dot(q, centroid) on the 1e-6 grid — the coarse term
    # of the decomposed score.
    probes = (
        _probe_cells(qv, centroids, nprobe, rounded=True, with_cv=True)
        .select(
            "query_id",
            "cell",
            F.round(_dot_unrolled(F.col("_qv"), F.col("_cv"), dim) * 1e6)
            .cast("long")
            .alias("_qc"),
        )
    )
    # The table is built over the RESIDUAL codebooks.
    table = _adc_table(qv, cb, dim, m)
    # One shuffle of the candidate rows by query: the per-cell and
    # per-pair aggregates and the per-query rank below then run in
    # place (the broadcast probe join keeps the index's partitioning,
    # which would cost one exchange per stage instead).
    cand_codes = (
        index.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .repartition("query_id")
        .select(
            "query_id", "cell", "_qc",
            F.col(id_col).alias("neighbor_id"), "_tnorm",
            F.posexplode("codes").alias("sub", "code"),
        )
    )
    # Per-(query, id, CELL) ADC sum first — under spill the same pair
    # arrives with a different code row per cell — then keep the max
    # cell variant per pair (deterministic: integer-grid scores).
    scored = (
        cand_codes.join(F.broadcast(table), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id", "cell")
        .agg(
            F.first("_tnorm").alias("_tnorm"),
            F.first("_qnorm").alias("_qnorm"),
            (F.first("_qc") + F.sum("_qd")).alias("_adot"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.round(
                F.max("_adot") / 1e6
                / (F.first("_tnorm") * F.first("_qnorm")),
                6,
            ).alias("pq_cosine"),
        )
    )
    if not rerank:
        return _rank_topk(scored, "pq_cosine", k)
    return _rerank_exact(scored, qv, corpus, rerank, k, id_col, vec_col)


def ivf_append_retrain_loop(
    base: DataFrame,
    batch: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    refine_iters: int = 0,
    assign_spill: int = 1,
    tolerance: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    retrained: tuple[DataFrame, DataFrame] | None = None,
    stale: tuple[DataFrame, DataFrame] | None = None,
    appended: DataFrame | None = None,
) -> DataFrame:
    """The FULL ANN index ingest control loop (VERDICT r05 task 8) as
    one declarative deliverable: append a new ingest ``batch`` to the
    standing index built on ``base`` (cheap path — the batch
    broadcast-joins the STALE centroids via :func:`ivf_assign`, no
    retrain, no corpus rescan), measure recall@k of the appended index
    AND of a freshly retrained full-corpus index against exact brute
    force over the grown corpus, and emit the retrain-or-keep decision
    PLUS the active index rows.

    The decision never touches the driver: both candidate indexes are
    tagged, the 1-row drift frame (recall_retrained −
    recall_appended, denominator derived from the exact set's own
    size — never a literal) broadcast-joins onto them, and the output
    keeps exactly the rows of the index the decision selects
    (``drift > tolerance`` → the retrained index ships, else the
    appended one). A 100 TB pipeline runs this per ingest batch: the
    steady-state cost is one batch assignment + the bounded recall
    probe; the full retrain bill is paid only when measured drift says
    the standing centroids went stale.

    Deterministic for pinned sample seeds (both builds use the
    hash-shuffled TakeOrdered sample). Output: one row per ACTIVE
    index assignment — (id, cell, index_source, recall_appended,
    recall_retrained, drift, retrain_triggered).
    """
    corpus = base.unionByName(batch)
    if stale is not None:
        # Caller-provided standing index (the STREAMING twin: centroids
        # trained before the stream started, persisted as artifacts) —
        # arrives materialized.
        stale_centroids, stale_assigned = stale
    else:
        stale_centroids, stale_assigned = ivf_cells(
            base, n_cells, id_col, vec_col, refine_iters,
            assign_spill=assign_spill,
        )
        stale_centroids = stale_centroids.localCheckpoint()
    # Both candidate indexes are consumed TWICE (the recall probe and
    # the shipped-candidate union) and the exact brute-force frame
    # THRICE (denominator + both recall joins) — materialize each once
    # so the steady-state cost really is one batch assignment + one
    # bounded recall probe, not 2-3 re-executions of the heaviest
    # lineages (review r06). All three frames are bounded: assignments
    # are (id, cell, vector) rows, exact is |Q|·k rows.
    # ``appended`` given → the grown assignment was produced OUTSIDE
    # this plan (the streaming twin's per-micro-batch foreachBatch
    # appends, read back from their idempotent artifacts); the loop
    # then runs the identical measure/decide/ship machinery on it.
    if appended is None:
        appended = stale_assigned.unionByName(
            ivf_assign(
                batch, stale_centroids, id_col, vec_col,
                assign_spill=assign_spill,
            )
        )
    appended = appended.localCheckpoint()
    retrained_centroids, retrained_assigned = (
        retrained
        if retrained is not None
        else ivf_cells(
            corpus, n_cells, id_col, vec_col, refine_iters,
            assign_spill=assign_spill,
        )
    )
    if retrained is None:
        # A caller-provided index (the suite's session memo) arrives
        # already materialized; only an internal build needs the
        # two-consumer truncation.
        retrained_centroids = retrained_centroids.localCheckpoint()
        retrained_assigned = retrained_assigned.localCheckpoint()

    exact = cosine_topk(corpus, queries, k=k, id_col=id_col,
                        vec_col=vec_col).select(
        "query_id", F.col("neighbor_id").alias("exact_nb")
    ).localCheckpoint()
    denom = exact.agg(F.count(F.lit(1)).cast("double").alias("_denom"))

    def _recall(cells, name):
        topk = cosine_topk_ivf(
            corpus, queries, k=k, n_cells=n_cells, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col, cells=cells,
            spilled=assign_spill > 1,
        )
        return (
            exact.join(
                topk.select(
                    "query_id", F.col("neighbor_id").alias("approx_nb")
                ),
                on=[
                    exact["query_id"] == topk["query_id"],
                    F.col("exact_nb") == F.col("approx_nb"),
                ],
            )
            .agg(F.count(F.lit(1)).cast("double").alias("_hits"))
            .join(F.broadcast(denom))
            .select(
                F.round(F.col("_hits") / F.col("_denom"), 6).alias(name)
            )
        )

    decision = (
        _recall((stale_centroids, appended), "recall_appended")
        .join(F.broadcast(_recall(
            (retrained_centroids, retrained_assigned), "recall_retrained"
        )))
        .select(
            "recall_appended", "recall_retrained",
            F.round(
                F.col("recall_retrained") - F.col("recall_appended"), 6
            ).alias("drift"),
        )
        .withColumn("retrain_triggered", F.col("drift") > tolerance)
    )
    candidates = appended.select(
        F.col(id_col), "cell", F.lit("appended").alias("index_source")
    ).unionByName(
        retrained_assigned.select(
            F.col(id_col), "cell", F.lit("retrained").alias("index_source")
        )
    )
    return (
        candidates.join(F.broadcast(decision))
        .filter(
            F.col("index_source")
            == F.when(F.col("retrain_triggered"), "retrained").otherwise(
                "appended"
            )
        )
        .select(
            id_col, "cell", "index_source",
            "recall_appended", "recall_retrained", "drift",
            "retrain_triggered",
        )
    )


# --------------------------------------------------------------------------
# OPQ — learned-rotation product quantization (round 7)
# --------------------------------------------------------------------------


def opq_rotation(
    corpus: DataFrame,
    dim: int,
    m: int,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Learn the parametric OPQ rotation (Ge et al., *Optimized Product
    Quantization*, CVPR 2013 — the eigenvalue-allocation closed form;
    the same transform FAISS ships as ``OPQMatrix``): an orthogonal
    ``dim × dim`` matrix ``R`` such that PQ in the rotated space
    ``Rv`` sees decorrelated subspaces with BALANCED variance — the
    standard attack on raw-PQ's failure mode where correlated /
    unevenly-scaled dimensions waste codebook capacity (VERDICT r06
    task 1: the isotropy analysis behind the residual-PQ negative).

    Fully distributed statistics, bounded driver math: the 64-dim
    covariance's ``d(d+1)/2`` moment sums come from ONE Arrow-batched
    numpy pass (the ``embedding_pca_loadings`` int64-grid pattern —
    per-partition int64 partials on the 1e-12 grid, DECIMAL merge, so
    the result is exact and partition-order-free), and only those
    2080 + 64 + 1 aggregate rows reach the driver — a bounded,
    corpus-size-independent collect (same class as the config /
    P-integer-offset collects). The driver then eigendecomposes the
    d×d matrix (O(d³), independent of corpus size) and allocates
    eigen-dimensions to the ``m`` subspaces greedily by descending
    eigenvalue into the bucket with the smallest log-variance product
    (the paper's balanced-allocation rule), giving
    ``R[k] = U[:, perm[k]]`` — orthogonal because U is and perm is a
    permutation. Deterministic: exact covariance + LAPACK ``eigh`` on
    identical input. Empty corpus → identity (PQ degrades gracefully).
    """
    if dim % m:
        raise ValueError(
            f"opq_rotation needs m to divide dim for balanced "
            f"allocation (dim={dim}, m={m})"
        )

    from ..functions.scalars import triangle_moment_partials

    rows = (
        corpus.select(as_double_array(vec_col).alias(vec_col))
        .mapInArrow(
            triangle_moment_partials(vec_col, dim, include_sums=True),
            "i int, j int, pl decimal(38,0)",
        )
        .groupBy("i", "j")
        .agg(F.sum(F.col("pl").cast("decimal(38,0)")).alias("s"))
        .collect()
    )

    n = 0
    sums = np.zeros(dim)
    prods = np.zeros((dim, dim))
    for r in rows:
        if r.j == -2:
            n = int(r.s)
        elif r.j == -1:
            sums[r.i] = float(r.s) / 1e12
        else:
            prods[r.i, r.j] = prods[r.j, r.i] = float(r.s) / 1e12
    if n == 0:
        return np.eye(dim)
    mean = sums / n
    cov = prods / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    # Balanced eigenvalue allocation: descending eigenvalues go to the
    # non-full bucket with the smallest running log-variance product.
    cap = dim // m
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = np.zeros(m)
    eps = max(float(evals[0]), 1e-30) * 1e-12
    for d_idx in range(dim):
        open_b = [b for b in range(m) if len(buckets[b]) < cap]
        best = min(open_b, key=lambda b: (logs[b], b))
        buckets[best].append(d_idx)
        logs[best] += np.log(max(float(evals[d_idx]), eps))
    perm = [d_idx for b in buckets for d_idx in b]
    return evecs[:, perm].T  # R @ v rotates; rows orthonormal


def opq_rotate(
    df: DataFrame,
    rotation: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Apply an orthogonal rotation to a vector column: one Arrow-batched
    numpy matmul pass (``(rows × d) @ Rᵀ`` per batch — vectorized, never
    per-row Python), emitting (id, rotated ``array<double>``). Rotated
    values round to the 1e-9 grid so the output is bit-identical across
    batch sizes and BLAS kernels (three orders below the 1e-6 scoring
    grid every downstream consumer ranks on). Orthogonality preserves
    dots and norms, so exact cosine in the rotated space equals exact
    cosine in the original — rerank stages and recall comparisons
    against original-space brute force remain valid."""
    import pyarrow as pa

    R = np.ascontiguousarray(rotation, dtype=np.float64)
    id_field = df.select(id_col).schema.fields[0]

    def rot(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            if t.num_rows == 0:
                continue
            V = np.asarray(t.column(vec_col).to_pylist(), dtype=np.float64)
            out = np.round(V @ R.T, 9)
            yield pa.RecordBatch.from_arrays(
                [
                    t.column(id_col).combine_chunks(),
                    pa.array(out.tolist(), type=pa.list_(pa.float64())),
                ],
                names=[id_col, vec_col],
            )

    return df.select(id_col, as_double_array(vec_col).alias(vec_col)).mapInArrow(
        rot, f"{id_col} {id_field.dataType.simpleString()}, "
             f"{vec_col} array<double>"
    )


# --------------------------------------------------------------------------
# SemDeDup — within-cell semantic dedup (round 7)
# --------------------------------------------------------------------------


def semantic_cell_pairs(
    corpus: DataFrame,
    assignment: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The SemDeDup VERIFIED pair stage, standalone (factored out of
    :func:`semantic_dedup_clusters` in r08 so the composed dedup
    ladder shares it): pairs form only inside a cell of the given
    assignment, each cell scores as row-blocked numpy Gram slabs in
    one Arrow batch (never a corpus self-join; the interpreted
    expression-tree form measured 15 s vs 0.3 s at sf0.1), cosines
    round to the shared 1e-6 grid before the threshold. Output:
    (id_a < id_b), distinct — spilled assignments can surface a pair
    via two cells."""
    import pandas as pd

    id_type = corpus.select(id_col).schema.fields[0].dataType.simpleString()
    v = as_double_array(vec_col)
    members = (
        assignment.select(F.col(id_col), "cell")
        .distinct()
        .join(corpus.select(F.col(id_col), v.alias("_v")), id_col)
        .select("cell", id_col, "_v")
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        V = np.asarray(pdf["_v"].tolist(), dtype=np.float64)[order]
        nrm = np.sqrt((V * V).sum(axis=1))
        nrm[nrm == 0] = 1.0
        out_a, out_b = [], []
        # Row-blocked Gram slabs: block × n doubles, never n × n.
        for lo in range(0, len(ids), 1024):
            hi = min(lo + 1024, len(ids))
            D = np.round(
                (V[lo:hi] @ V.T) / np.outer(nrm[lo:hi], nrm), 6
            )
            bi, bj = np.nonzero(D >= threshold)
            keep = (bi + lo) < bj  # upper triangle: id_a < id_b
            out_a.append(ids[bi[keep] + lo])
            out_b.append(ids[bj[keep]])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else [],
                "id_b": np.concatenate(out_b) if out_b else [],
            }
        )

    return (
        members.groupBy("cell")
        .applyInPandas(cell_pairs, f"id_a {id_type}, id_b {id_type}")
        .distinct()
    )


def semantic_dedup_clusters(
    corpus: DataFrame,
    assignment: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup (VERDICT r06 task 3; Abbas et al.
    2023, *SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication*): candidate pairs form ONLY INSIDE a cell
    of the given ``assignment`` (id → cell, one or more rows per id —
    IVF cells, LSH buckets, any blocking), verify by EXACT rounded
    cosine ≥ ``threshold``, merge into clusters via the shared
    union-find :func:`~.dedup.connected_components`, and collapse each
    cluster golden-record style (the ``dedup_golden_record`` shape:
    cluster aggregate with a deterministic survivor — min id here;
    the paper picks the member least similar to the cell centroid,
    a policy swap on the same plan). Completes the dedup ladder:
    exact → token n-gram → substring → embedding-pair →
    semantic-cluster. The verified pair stage is
    :func:`semantic_cell_pairs` (shared with the composed
    ``pipeline_dedup_ladder``, r08).

    Scale shape: the pair stage groups members BY CELL — one shuffle
    of (cell, id, vector) rows, never a corpus self-join — and each
    cell's pairs score inside one Arrow batch as a row-blocked numpy
    Gram product (``applyInPandas``: per-cell pair fanout is exactly
    what grouped-vectorized execution is for; the first cut's
    per-pair 64-term expression tree fell out of whole-stage codegen
    and ran interpreted — measured 15 s for the ~500k sf0.1 pairs vs
    ~0.3 s vectorized). Per-cell memory is blocked to 1024-row
    slabs of the similarity matrix, and per-cell cost is bounded by
    cell size² (the IVF balance contract — SemDeDup's own
    within-cluster-only trade). Cosines round to the shared 1e-6
    grid before the threshold, matching the SQL oracle's
    ``round(dot/(|a||b|), 6)`` formula. CC is the single-job
    union-find filter. Output: one row per cluster (singletons
    included) — (cluster_id = min member id, n_members,
    survivor_vec_id, n_dropped, labels = sorted distinct labels)."""
    from .dedup import connected_components

    pairs = semantic_cell_pairs(
        corpus, assignment, threshold, id_col, vec_col
    )
    labels = connected_components(pairs)
    members = (
        corpus.select(F.col(id_col), F.col(label_col))
        .join(labels.withColumnRenamed("id_a", id_col), id_col, "left")
        .select(
            id_col,
            label_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )
    return members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(id_col).alias("survivor_vec_id"),
        (F.count(F.lit(1)) - F.lit(1)).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set(label_col)),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("labels"),
    )


def hyperplane_cells(
    corpus: DataFrame,
    dim: int,
    planes: int,
    seed: int = 77,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic sign-bucket cell assignment: cell = Σ_p 2^p ·
    [round(dot(v, h_p), 6) ≥ 0] over the seeded unit hyperplanes of
    :func:`_hyperplane_matrix` — 2^planes cells, one row per vector.
    Exists as the SQL-REPRODUCIBLE blocking for the oracled SemDeDup
    entry: an ANSI oracle can re-derive the identical cells from the
    same plane constants as literals (k-means IVF cells cannot be
    replayed in SQL), and the rounded-dot sign convention keeps the
    bucket decision on the shared 1e-6 grid in both engines. One
    narrow projection — no shuffle."""
    H = _hyperplane_matrix(dim, planes, 1, seed)
    v = as_double_array(vec_col)
    cell = F.lit(0)
    for p in range(planes):
        plane = F.array(*[F.lit(float(x)) for x in H[:, p]])
        bit = (F.round(_dot_unrolled(v, plane, dim), 6) >= 0).cast("int")
        cell = cell + F.lit(2 ** p) * bit
    return corpus.select(F.col(id_col), cell.alias("cell"))


def hyperplane_cell_probes(
    corpus: DataFrame,
    dim: int,
    planes: int,
    n_probes: int = 1,
    seed: int = 77,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe PROBE-side cell assignment for hyperplane SemDeDup
    blocking (VERDICT r07 task 2 — the query-side multi-probe trade
    ported to dedup): each vector emits its own cell PLUS the cells
    reached by flipping its ``n_probes`` lowest-|margin| sign bits —
    the planes it nearly straddles, exactly where a near-duplicate
    most likely landed on the other side. The STANDING cell index
    (:func:`hyperplane_cells`) is untouched — identical index size —
    and pairs form via probe ⋈ index, so candidate growth is bounded
    by (1 + n_probes)×. Margins reuse the rounded-dot convention, so
    the probe decision sits on the same 1e-6 grid as the cell bits.
    All JVM expressions (array_sort over (|margin|, plane) structs —
    deterministic tiebreak), no Python.
    Output: (id, cell), 1 + n_probes rows per vector."""
    if n_probes > planes:
        raise ValueError(
            f"n_probes={n_probes} exceeds planes={planes} single-bit flips"
        )
    H = _hyperplane_matrix(dim, planes, 1, seed)
    v = as_double_array(vec_col)
    dots = [
        F.round(
            _dot_unrolled(
                v, F.array(*[F.lit(float(x)) for x in H[:, p]]), dim
            ),
            6,
        )
        for p in range(planes)
    ]
    base = F.lit(0)
    for p in range(planes):
        base = base + F.lit(2 ** p) * (dots[p] >= 0).cast("int")
    margins = F.array_sort(
        F.array(*[
            F.struct(
                F.abs(dots[p]).alias("m"), F.lit(p).alias("p")
            )
            for p in range(planes)
        ])
    )
    bitw = F.array(*[F.lit(1 << p) for p in range(planes)])
    flips = F.transform(
        F.slice(F.col("_margins"), 1, n_probes),
        lambda s: F.element_at(bitw, s["p"] + 1).bitwiseXOR(
            F.col("_cell")
        ),
    )
    return (
        corpus.select(
            F.col(id_col), base.alias("_cell"), margins.alias("_margins")
        )
        .select(
            id_col,
            F.explode(
                F.concat(F.array(F.col("_cell")), flips)
            ).alias("cell"),
        )
    )


def semantic_dedup_incremental(
    base: DataFrame,
    new: DataFrame,
    assignment_base: DataFrame,
    assignment_new: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL SemDeDup — the operational 100 TB ingest shape of
    :func:`semantic_dedup_clusters` (every dedup family ships batch +
    incremental + streaming forms): only the NEW batch is assigned and
    paired, each new vector against the STANDING corpus members of its
    cell(s) — a rectangle per cell, never new×new or base×base, and
    never a corpus rescan. Same vectorized plan as the batch form:
    one (cell, id, vector) shuffle, per-cell numpy Gram rectangle in
    an Arrow batch, cosines rounded to the shared 1e-6 grid before
    the threshold. Per-batch cost is O(batch·cell_members) — the
    SemDeDup within-cell trade applied to ingest. Output:
    (id_new, id_base, cosine ≥ threshold)."""
    import pandas as pd

    id_type = base.select(id_col).schema.fields[0].dataType.simpleString()
    v = as_double_array(vec_col)

    def members(corpus, assignment, is_new):
        return (
            assignment.select(F.col(id_col), "cell")
            .distinct()
            .join(corpus.select(F.col(id_col), v.alias("_v")), id_col)
            .select(
                "cell", id_col, "_v", F.lit(is_new).alias("_is_new")
            )
        )

    both = members(new, assignment_new, True).unionByName(
        members(base, assignment_base, False)
    )

    def rect_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        nm = pdf[pdf["_is_new"]]
        bm = pdf[~pdf["_is_new"]]
        empty = pd.DataFrame({"id_new": [], "id_base": [], "cosine": []})
        if nm.empty or bm.empty:
            return empty
        Vn = np.asarray(nm["_v"].tolist(), dtype=np.float64)
        Vb = np.asarray(bm["_v"].tolist(), dtype=np.float64)
        ids_n = nm[id_col].to_numpy()
        ids_b = bm[id_col].to_numpy()
        nn = np.sqrt((Vn * Vn).sum(axis=1))
        nb = np.sqrt((Vb * Vb).sum(axis=1))
        nn[nn == 0] = 1.0
        nb[nb == 0] = 1.0
        out = [empty]
        for lo in range(0, len(ids_n), 1024):
            hi = min(lo + 1024, len(ids_n))
            D = np.round(
                (Vn[lo:hi] @ Vb.T) / np.outer(nn[lo:hi], nb), 6
            )
            bi, bj = np.nonzero(D >= threshold)
            out.append(
                pd.DataFrame(
                    {
                        "id_new": ids_n[bi + lo],
                        "id_base": ids_b[bj],
                        "cosine": D[bi, bj],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return (
        both.groupBy("cell")
        .applyInPandas(
            rect_pairs,
            f"id_new {id_type}, id_base {id_type}, cosine double",
        )
        .distinct()  # spilled assignments can surface a pair via 2 cells
    )


# ---------------------------------------------------------------------------
# NN-descent kNN graph (round 10, VERDICT r09 task 1) — the graph-based ANN
# family beside LSH/IVF/PQ/OPQ/SQ8. Reference semantics: Dong, Charikar, Li,
# "Efficient K-Nearest Neighbor Graph Construction for Generic Similarity
# Measures" (WWW 2011) — local joins over the evolving neighbor lists;
# re-expressed Spark-first as bounded self-equi-joins, never a sequential
# per-node heap walk.
# ---------------------------------------------------------------------------


def _knn_vectors(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(_id, _v double-array) projection shared by the graph family."""
    return corpus.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    )


def _knn_score_pairs(
    pairs: DataFrame, vectors: DataFrame, round_digits: int | None = 6
) -> DataFrame:
    """Exact-cosine score an (src, dst) id-pair frame via two hash
    equi-joins onto the vector table — no broadcast assumption (both
    sides may be corpus-sized; the PAIR LIST is the bounded thing, the
    caller's fanout caps guarantee it). Scores are rounded to the
    suite's deterministic 6-digit grid before any ranking."""
    va = vectors.select(F.col("_id").alias("src"), F.col("_v").alias("_va"))
    vb = vectors.select(F.col("_id").alias("dst"), F.col("_v").alias("_vb"))
    cos = cosine_expr(F.col("_va"), F.col("_vb"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        pairs.join(va, "src").join(vb, "dst")
        .select("src", "dst", cos.alias("cosine"))
    )


def _knn_truncate(scored: DataFrame, k: int) -> DataFrame:
    """Per-source top-k truncation by (cosine desc, dst asc) — the graph
    invariant every round re-establishes. Deterministic: rounded scores,
    id tiebreak."""
    w = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("src", "dst", "cosine")
    )


def nndescent_round(
    graph: DataFrame,
    vectors: DataFrame,
    k: int,
    round_digits: int | None = 6,
) -> DataFrame:
    """ONE NN-descent round as pure DataFrame algebra (exposed so the
    plan test audits a round's executed plan directly): candidates are
    neighbors-of-neighbors under the SYMMETRIZED current graph — the
    paper's local join — generated by a self-equi-join on the shared
    pivot node, exact-scored, unioned with the standing edges, and
    re-truncated to per-node top-k.

    Scale bounds, per round: the reverse adjacency is capped at k per
    node (the paper's reverse sampling ρ=1), so the symmetrized
    adjacency holds ≤ 2k rows per node and the pivot self-join fans out
    ≤ (2k)² candidate pairs per node — n·4k² scored pairs worst case,
    all hash equi-joins (no cartesian, no broadcast of a corpus-sized
    side). The k-NN list of every node can only improve (union ∪
    re-truncate is monotone in rounded cosine) — the monotonicity the
    build test asserts.

    Shuffle layout (optimization round 11, guide §2.2 "shuffle fewer
    bytes"): vectors attach to the k-BOUNDED adjacency BEFORE the pivot
    fanout (≤2k rows per node carry one dim-double array each), so the
    n·4k² candidate set is scored INSIDE the pivot join's projection
    and never shuffles again carrying vectors. The old form shuffled
    the full candidate set four more times (pre-score distinct,
    anti-join against the standing edges, then TWO vector equi-joins
    each moving candidate-count × dim doubles). Pre-score dedup and the
    anti-join are subsumed by ONE narrow (src, dst, cosine) dedup after
    scoring: a pair reached through several shared pivots — or already
    present as a standing edge — scores to the IDENTICAL rounded
    cosine (same fold, same grid, same vectors), so dropDuplicates
    keeps value-identical rows and the re-truncated graph is unchanged
    (A/B row-identical; the build's partition-invariance test pins it).
    The explicit repartition by src lets both the dedup aggregate and
    the truncate window reuse one exchange (hash(src) clusters every
    (src, dst) group and every window partition).

    CONTRACT (ADVICE r11): the dedup is on (src, dst) ONLY, so
    correctness requires every leg to carry the identical rounded
    cosine — i.e. the input ``graph``'s cosines must be on the SAME
    ``round_digits`` grid as this round's scoring (true for every
    caller: the seed graph and all rounds share the default 6). A
    graph built at a different grid would make the kept row
    partition-order-dependent; callers changing ``round_digits``
    mid-build must re-score the standing edges first."""
    w_rev = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    rev = (
        graph.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine"
        )
        .withColumn("_rn", F.row_number().over(w_rev))
        .filter(F.col("_rn") <= k)
        .select("src", "dst")
    )
    adj = graph.select("src", "dst").unionAll(rev).distinct()
    adjv = adj.join(
        vectors.select(F.col("_id").alias("dst"), "_v"), "dst"
    )
    c1 = adjv.select(
        F.col("src").alias("_p"), F.col("dst").alias("src"),
        F.col("_v").alias("_va"),
    )
    c2 = adjv.select(
        F.col("src").alias("_p"), F.col("dst").alias("dst"),
        F.col("_v").alias("_vb"),
    )
    cos = cosine_expr(F.col("_va"), F.col("_vb"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = (
        c1.join(c2, "_p")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", cos.alias("cosine"))
    )
    merged = (
        graph.unionAll(scored)
        .repartition(F.col("src"))
        .dropDuplicates(["src", "dst"])
    )
    return _knn_truncate(merged, k)


def _cocell_pairs(
    assigned: DataFrame, pool_cap: int, seed_cap: int
) -> DataFrame:
    """DOUBLY-capped co-cell candidate pairs from a (node, cell)
    assignment — the seeding machinery :func:`knn_graph_build` uses and
    :func:`knn_graph_append` reuses for its within-batch pass (round
    11, VERDICT r10 task 3). No cell size ever goes quadratic: each
    cell exposes a deterministic ≤``pool_cap`` candidate pool (xxhash64
    rank within cell), each node scores ≤``seed_cap`` pool members
    (xxhash64 rank per node) — ≤ n·seed_cap pairs total, all hash
    equi-joins. A spilled assignment (one node in ≥2 cells) surfaces a
    pair through each shared cell; the distinct collapses it."""
    a = assigned.select(F.col("node").alias("src"), "cell")
    b = assigned.select(F.col("node").alias("dst"), "cell")
    w_pool = Window.partitionBy("cell").orderBy(F.xxhash64("dst"), "dst")
    pool = (
        b.withColumn("_pn", F.row_number().over(w_pool))
        .filter(F.col("_pn") <= pool_cap)
        .select("dst", "cell")
    )
    w_seed = Window.partitionBy("src").orderBy(
        F.xxhash64("src", "dst"), "dst"
    )
    return (
        a.join(pool, "cell")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .withColumn("_rn", F.row_number().over(w_seed))
        .filter(F.col("_rn") <= seed_cap)
        .select("src", "dst")
    )


def knn_graph_build(
    corpus: DataFrame,
    k: int = 10,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: tuple[DataFrame, DataFrame] | None = None,
    n_cells: int = 16,
    seed_cap: int | None = None,
    pool_cap: int | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Build a per-node top-k cosine kNN GRAPH by IVF-seeded NN-descent
    (round 10, VERDICT r09 task 1) — the substrate graph-ANN search,
    SemDeDup-style curation, and label propagation consume.

    Seeding (instead of the paper's uniform-random k): co-cell pairs
    from the (prebuilt or fresh) IVF assignment, DOUBLY capped so no
    cell size ever goes quadratic — each cell exposes a deterministic
    ≤``pool_cap`` candidate pool (xxhash64 rank within cell), each node
    scores ≤``seed_cap`` pool members (xxhash64 rank per node). The
    seeded graph then runs ``rounds`` NN-descent local-join rounds
    (:func:`nndescent_round`; each round's lineage is cut with an eager
    ``localCheckpoint`` — the iterative-algorithm convention of
    ``connected_components``). Every stage is hash equi-joins +
    bounded-partition windows; nothing broadcasts a corpus-sized frame
    and nothing collects to the driver. Cost at 100 TB: seed n·seed_cap
    scored pairs, then ≤ n·4k² scored pairs per round — linear in n
    with small constants, the reason NN-descent is the standard
    batch-kNN-graph algorithm.

    Determinism: cosines round to the 6-digit grid, every rank breaks
    ties by id, hash caps are xxhash64-keyed — the graph is a pure
    function of (corpus, parameters), invariant to partitioning
    (asserted by the build test under repartition).

    Output: (vec_id, neighbor_id, rnk, cosine) — ≤k ascending-rank
    exact-cosine-verified out-neighbors per node."""
    seed_cap = seed_cap if seed_cap is not None else 2 * k
    pool_cap = pool_cap if pool_cap is not None else 4 * k
    vectors = _knn_vectors(corpus, id_col, vec_col).localCheckpoint()
    if cells is None:
        cells = ivf_cells(corpus, n_cells, id_col, vec_col)
    _, assigned = cells
    seed_pairs = _cocell_pairs(
        assigned.select(F.col(id_col).alias("node"), "cell"),
        pool_cap, seed_cap,
    )
    g = _knn_truncate(
        _knn_score_pairs(seed_pairs, vectors, round_digits), k
    ).localCheckpoint()
    for _ in range(rounds):
        g = nndescent_round(g, vectors, k, round_digits).localCheckpoint()
    w_out = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    return g.select(
        F.col("src").alias("vec_id"), F.col("dst").alias("neighbor_id"),
        F.row_number().over(w_out).alias("rnk"),
        "cosine",
    )


def cosine_topk_graph(
    corpus: DataFrame,
    queries: DataFrame,
    graph: DataFrame,
    cells: tuple[DataFrame, DataFrame],
    k: int = 5,
    nprobe: int = 4,
    hops: int = 1,
    entry_cap: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    spilled: bool = False,
) -> DataFrame:
    """Graph-AUGMENTED IVF top-k search over a standing
    :func:`knn_graph_build` graph: entry points are the plain IVF probe
    path's top-``entry_cap`` candidates (:func:`cosine_topk_ivf`, same
    cells/nprobe — so this search's candidate set is a SUPERSET of the
    IVF top-k's and its recall@k dominates it structurally, the
    invariant the scorecard row re-measures); each of ``hops`` rounds
    then expands the frontier through the kNN graph's out-edges
    (bounded: ≤k new ids per frontier row, one hash equi-join on the
    graph — the batch formulation of greedy graph search), and every
    expanded candidate is exact-cosine scored against its query before
    the final deterministic top-k. Recovers cross-cell neighbors that
    IVF's probe list misses at the same nprobe — measured in
    ``similarity_recall_report``. Queries are a bounded broadcast; the
    graph and corpus never broadcast — and (round 12) never SHUFFLE
    either: the hop and scoring joins broadcast the bounded
    frontier/pair side.

    Hop-count note (ADVICE r11): expansion is expand-all — no visited
    set — because any node first reached at hop j is in the frontier at
    j either way and a revisited pair scores to the identical rounded
    cosine. The per-hop ``distinct`` bounds each frontier, but
    cross-hop revisits DO re-enter later frontiers, so cost grows with
    ``hops``; every caller uses hops ≤ 2, where expand-all is cheaper
    than maintaining the visited anti-join. Re-add a seen-set prune
    before raising ``hops`` materially.

    Output: (query_id, neighbor_id, rnk, cosine)."""
    entry_cap = entry_cap if entry_cap is not None else 2 * k
    entry = cosine_topk_ivf(
        corpus, queries, k=entry_cap, nprobe=nprobe, cells=cells,
        id_col=id_col, vec_col=vec_col, round_digits=round_digits,
        spilled=spilled,
    ).select("query_id", "neighbor_id", "cosine")
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("_qv")
    )
    vectors = _knn_vectors(corpus, id_col, vec_col)
    # Hop + scoring layout (optimization round 12, guide §2.4/§3.1 —
    # completing the round-11 treatment): candidate EXPANSION does not
    # depend on hop scores (expand-all — any node first reached at hop
    # j is in the frontier at j regardless of its cosine), so the
    # per-hop scoring joins are hoisted out of the loop: the hops only
    # accumulate (query_id, cand) id pairs, and ONE scoring pass at the
    # end attaches vectors + query vectors. A pair reached through any
    # leg (entry or hop) scores to the IDENTICAL rounded cosine (same
    # fold, same vectors), so scoring once per distinct pair returns
    # value-identical rows — the round-11 dedup argument. The frontier
    # and the accumulated pair set are BOUNDED (queries are a bounded
    # broadcast by the operator contract; each hop adds ≤ k ids per
    # frontier row), so both sides broadcast: the corpus-sized graph
    # and vector tables are NEVER shuffled by the search — before this,
    # every hop shuffled the graph (join on cand) and the corpus
    # vectors (join on cand) for a bounded probe.
    frontier = entry.select("query_id", F.col("neighbor_id").alias("cand"))
    cands = frontier
    edges = graph.select(
        F.col("vec_id").alias("cand"), F.col("neighbor_id").alias("_n")
    )
    for _ in range(hops):
        nxt = (
            edges.join(F.broadcast(frontier), "cand")
            .select("query_id", F.col("_n").alias("cand"))
            .distinct()
            .filter(F.col("query_id") != F.col("cand"))
        )
        cands = cands.unionAll(nxt)
        frontier = nxt
    cos = cosine_expr(F.col("_qv"), F.col("_v"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = (
        vectors.withColumnRenamed("_id", "cand")
        .join(
            F.broadcast(cands.dropDuplicates(["query_id", "cand"])),
            "cand",
        )
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", F.col("cand").alias("neighbor_id"),
            cos.alias("cosine"),
        )
    )
    # Pairs are already distinct, so the rank window is the only
    # remaining exchange (hash(query_id)).
    return _rank_topk(scored, "cosine", k)


def knn_graph_append(
    graph: DataFrame,
    base: DataFrame,
    new: DataFrame,
    cells: tuple[DataFrame, DataFrame],
    k: int = 10,
    nprobe: int = 4,
    hops: int = 2,
    entry_cap: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    spilled: bool = False,
) -> DataFrame:
    """INCREMENTAL kNN-graph maintenance (round 10 — the graph family's
    append path, the ``ivf_assign``-alone analog): a new vector batch
    joins the STANDING NN-descent graph without any rebuild.

    1. OUT-edges for new nodes: the graph-augmented search itself
       (:func:`cosine_topk_graph` over the standing graph + cells)
       finds each new vector's top-k base neighbors — plus a
       within-batch pass so new↔new duplicates connect: the batch is
       assigned to the STANDING cells (``ivf_assign``, spill 2) and
       candidate pairs come from the same doubly-capped co-cell
       machinery the build's seeding uses (:func:`_cocell_pairs` —
       round 11, VERDICT r10 task 3: ≤ batch·seed_cap exact-scored
       pairs instead of the previous all-pairs batch²);
    2. REVERSE patch: each (new → base) edge proposes the mirrored
       (base → new) edge; only base nodes actually TOUCHED by a
       proposal re-truncate (their standing out-edges ∪ proposals,
       per-node top-k) — restricted by one broadcast left-semi over
       the standing graph, every untouched node's list is returned
       byte-identical (broadcast anti).

    Per-batch cost: the batch's own search + ≤ batch·2k within-batch
    scored pairs + O(batch·k) proposal rows + two broadcast passes over
    the standing graph — never a rebuild, never a corpus shuffle,
    nothing super-linear in the batch. Output: the updated (vec_id,
    neighbor_id, rnk, cosine) graph over base ∪ new nodes."""
    entry_cap = entry_cap if entry_cap is not None else 2 * k
    new_base = cosine_topk_graph(
        base, new, graph=graph, cells=cells, k=k, nprobe=nprobe,
        hops=hops, entry_cap=entry_cap, id_col=id_col, vec_col=vec_col,
        round_digits=round_digits, spilled=spilled,
    ).select("query_id", "neighbor_id", "cosine")
    centroids, _ = cells
    batch_assigned = ivf_assign(
        new, centroids, id_col, vec_col, assign_spill=2
    ).select(F.col(id_col).alias("node"), "cell")
    nn_pairs = _cocell_pairs(batch_assigned, pool_cap=4 * k,
                             seed_cap=2 * k)
    new_new = _knn_truncate(
        _knn_score_pairs(
            nn_pairs, _knn_vectors(new, id_col, vec_col), round_digits
        ),
        k,
    ).select(
        F.col("src").alias("query_id"),
        F.col("dst").alias("neighbor_id"), "cosine",
    )
    new_out = _knn_truncate(
        new_base.unionAll(new_new).select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"), "cosine",
        ),
        k,
    ).localCheckpoint()
    return knn_graph_patch(graph, new_out, new, k=k, id_col=id_col)


def knn_graph_forget(
    graph: DataFrame,
    forget: DataFrame,
    corpus: DataFrame,
    cells: tuple[DataFrame, DataFrame],
    k: int = 10,
    nprobe: int = 4,
    hops: int = 2,
    entry_cap: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    spilled: bool = False,
) -> DataFrame:
    """Right-to-be-forgotten DELETE + REPAIR for the standing kNN graph
    (round 11, VERDICT r10 task 1) — the inverse of
    :func:`knn_graph_append`'s touched-only patch: at 100 TB an index
    cannot rebuild per forget request, so the purge must be an
    incremental patch with the same locality guarantees.

    1. DELETE: drop every forgotten node's out-edge list AND every
       surviving node's edge that points at a forgotten id — after
       this no row of the artifact references a forgotten subject.
    2. REPAIR: only the nodes that actually LOST an edge (their list
       referenced a forgotten id) re-truncate, from their REMAINING
       out-edges ∪ a bounded graph-augmented re-search
       (:func:`cosine_topk_graph` over the PURGED graph and PURGED
       corpus — hops cannot traverse a forgotten node's list and the
       scoring join cannot resurrect a forgotten vector, because both
       are already gone). Every untouched node's list is returned
       byte-identical (broadcast anti + deterministic re-rank).

    ``corpus`` must be the PURGED vector table (forgotten rows already
    anti-joined out — the relational purge this composes with). Cost:
    two broadcast passes of the forget set over the standing graph +
    one bounded search for the touched nodes (≈ reverse-degree ·
    |forget| queries, O(k·|forget|) in the steady state) — never a
    rebuild, never a corpus shuffle. Output: (vec_id, neighbor_id,
    rnk, cosine) over the surviving nodes."""
    entry_cap = entry_cap if entry_cap is not None else 2 * k
    fids = forget.select(
        F.col(forget.columns[0]).alias("_fid")
    ).distinct()
    # The IVF assignment table CARRIES the vectors (it is the searchable
    # artifact the probe paths score from), so the re-search must run
    # over its PURGED form — otherwise a forgotten vector resurfaces as
    # an entry candidate straight out of the standing index.
    centroids, assigned = cells
    assigned = assigned.join(
        F.broadcast(fids), assigned[id_col] == F.col("_fid"), "left_anti"
    )
    cells = (centroids, assigned)
    g_edges = graph.select(
        F.col(id_col).alias("src"),
        F.col("neighbor_id").alias("dst"), "cosine",
    )
    kept_nodes = g_edges.join(
        F.broadcast(fids), g_edges["src"] == F.col("_fid"), "left_anti"
    )
    touched_ids = (
        kept_nodes.join(
            F.broadcast(fids), kept_nodes["dst"] == F.col("_fid"),
            "left_semi",
        )
        .select("src").distinct()
    )
    remaining = kept_nodes.join(
        F.broadcast(fids), kept_nodes["dst"] == F.col("_fid"), "left_anti"
    ).localCheckpoint()
    # cosine_topk_graph reads its graph argument by the family's FIXED
    # (vec_id, neighbor_id) schema (knn_graph_build emits it regardless
    # of id_col), so the hops-graph must use those names even when the
    # caller's id_col differs.
    purged_graph = remaining.select(
        F.col("src").alias("vec_id"), F.col("dst").alias("neighbor_id")
    )
    touched_q = corpus.join(
        F.broadcast(touched_ids.withColumnRenamed("src", id_col)),
        id_col, "left_semi",
    )
    research = cosine_topk_graph(
        corpus, touched_q, graph=purged_graph, cells=cells, k=k,
        nprobe=nprobe, hops=hops, entry_cap=entry_cap, id_col=id_col,
        vec_col=vec_col, round_digits=round_digits, spilled=spilled,
    ).select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"), "cosine",
    )
    repaired = _knn_truncate(
        remaining.join(F.broadcast(touched_ids), "src", "left_semi")
        .unionAll(research)
        .dropDuplicates(["src", "dst"]),
        k,
    )
    untouched = remaining.join(F.broadcast(touched_ids), "src", "left_anti")
    merged = untouched.unionAll(repaired)
    w_out = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    return merged.select(
        F.col("src").alias(id_col), F.col("dst").alias("neighbor_id"),
        F.row_number().over(w_out).alias("rnk"), "cosine",
    )


def knn_graph_patch(
    graph: DataFrame,
    new_out: DataFrame,
    new: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """The REVERSE touched-only patch shared by :func:`knn_graph_append`
    and its streaming twin (round 11, VERDICT r10 task 4): given the
    new nodes' out-edge lists ``new_out`` (src, dst, cosine — ≤ k per
    src, however they were computed: one batch append or a drained
    union of per-micro-batch searches), mirror each (new → base) edge
    into a (base → new) proposal at the same exact rounded cosine
    (metric symmetry), re-truncate ONLY the base nodes a proposal
    actually touches (their standing out-edges ∪ proposals, per-node
    top-k; restricted by one broadcast left-semi over the standing
    graph), and return the merged graph — every untouched node's list
    byte-identical (broadcast anti), ranks re-derived deterministically
    (cosine desc, dst asc). Pure deterministic function of (graph,
    new_out), so two paths that agree on new_out agree on the whole
    patched graph. Output: (vec_id, neighbor_id, rnk, cosine)."""
    base_props = (
        new_out.join(
            new.select(F.col(id_col).alias("dst")), "dst", "left_anti"
        )
        .select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine"
        )
        .localCheckpoint()
    )
    g_edges = graph.select(
        F.col(id_col).alias("src"),
        F.col("neighbor_id").alias("dst"), "cosine",
    )
    touched_ids = base_props.select("src").distinct()
    touched = _knn_truncate(
        g_edges.join(F.broadcast(touched_ids), "src", "left_semi")
        .unionAll(base_props)
        .dropDuplicates(["src", "dst"]),
        k,
    )
    untouched = g_edges.join(F.broadcast(touched_ids), "src", "left_anti")
    merged = untouched.unionAll(touched).unionAll(new_out)
    w_out = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    return merged.select(
        F.col("src").alias(id_col), F.col("dst").alias("neighbor_id"),
        F.row_number().over(w_out).alias("rnk"), "cosine",
    )
