"""Round-4d suite wave: embedding-centric ML data operators — contrastive
hard-negative mining, k-NN label voting (embedding-quality probe), MMR
diversified re-ranking, and the composed entity-resolution pipeline
(blocking → fuzzy match → connected components → golden record).

Scale posture: every corpus-sized pass is a single linear scan against a
broadcast bounded query/anchor set (the `cosine_topk` shape); per-query
work after the bound is tiny. The MMR greedy loop — sequential in k but
independent across queries — runs as an Arrow-batched ``applyInPandas``
over ≤ shortlist rows per query. Entity resolution reuses the blocked
fuzzy join (block-quadratic, never corpus-quadratic) and the union-find
filtering connected-components operator.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import ORACLES, memo, query, scoped_conf, table
from ..operators import similarity as S

# ---------------------------------------------------------------------------
# mine_hard_negatives
# ---------------------------------------------------------------------------

_HN_ANCHORS = 20
_HN_K = 3


@query(
    "mine_hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS query_label,
               CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {_HN_ANCHORS}
    ),
    c AS (
        SELECT vec_id AS neighbor_id, label AS neighbor_label,
               CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    s AS (
        SELECT query_id, query_label, neighbor_id, neighbor_label,
               round(list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(cv, cv))), 6) AS cosine
        FROM q CROSS JOIN c
        WHERE query_id <> neighbor_id AND query_label <> neighbor_label
    ),
    r AS (
        SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
        FROM s
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, rnk, cosine
    FROM r WHERE rnk <= {_HN_K}
    """,
)
def mine_hard_negatives(spark, sf):
    """Contrastive hard negatives: per anchor, the top-3 most-similar
    vectors with a DIFFERENT label — near-miss negatives are the ones
    that carry training signal. One linear corpus scan against the
    broadcast 20-anchor set; the label-mismatch predicate rides the join
    so same-label rows never reach the scorer."""
    emb = table(spark, sf, "embeddings")
    return S.mine_hard_negatives(
        emb, emb.filter(F.col("vec_id") < _HN_ANCHORS), k=_HN_K
    )


# ---------------------------------------------------------------------------
# knn_label_vote
# ---------------------------------------------------------------------------

_KNN_QUERIES = 50
_KNN_K = 5


@query(
    "knn_label_vote",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS true_label,
               CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {_KNN_QUERIES}
    ),
    c AS (
        SELECT vec_id AS neighbor_id, label AS neighbor_label,
               CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    s AS (
        SELECT query_id, true_label, neighbor_id, neighbor_label,
               round(list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(cv, cv))), 6) AS cosine
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM s
    ),
    votes AS (
        SELECT query_id, true_label, neighbor_label,
               COUNT(*) AS votes
        FROM r WHERE rnk <= {_KNN_K}
        GROUP BY query_id, true_label, neighbor_label
    ),
    best AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY votes DESC, neighbor_label) AS vr
        FROM votes
    )
    SELECT query_id, true_label,
           neighbor_label AS predicted_label,
           CAST(votes AS BIGINT) AS n_votes,
           neighbor_label = true_label AS correct
    FROM best WHERE vr = 1
    """,
)
def knn_label_vote(spark, sf):
    """k-NN majority-vote label prediction over 50 labeled queries — the
    leave-one-out probe that measures whether an embedding space
    separates its classes. Modal neighbor label with a smallest-label
    tiebreak (min(struct(-votes, label)) ≡ the oracle's votes DESC,
    label ASC rank)."""
    emb = table(spark, sf, "embeddings")
    return S.knn_label_vote(
        emb, emb.filter(F.col("vec_id") < _KNN_QUERIES), k=_KNN_K
    )


@query("knn_graph_label_vote")  # rows-only: the graph build is iterative
def knn_graph_label_vote(spark, sf):
    """FULL-CORPUS leave-one-out label vote over the standing NN-descent
    graph (round 10 — the probe ``knn_label_vote`` can only run on a
    bounded query set, because exact kNN per query scans the corpus):
    every node's predicted label is the modal label of its ≤k graph
    out-neighbors (smallest-label tiebreak, the sibling's argmax), and
    the report aggregates per true label — coverage, correct votes, and
    the micro-accuracy numerator/denominator. This is the
    embedding-quality audit at 100% coverage: one label equi-join onto
    the graph's edge list + two hash aggregates, linear in n·k — at
    100 TB the standing graph makes corpus-wide LOO classification an
    equi-join problem instead of n exact searches. Rows-only by the
    graph family's convention; determinism inherits the graph's
    (rounded cosines, id tiebreaks)."""
    from .llm import shared_knn_graph

    emb = table(spark, sf, "embeddings")
    g = shared_knn_graph(spark, sf)
    labels = emb.select("vec_id", "label")
    votes = (
        g.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("_nl"),
            ),
            "neighbor_id",
        )
        .groupBy("vec_id", "_nl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    best = votes.groupBy("vec_id").agg(
        F.min(F.struct((-F.col("votes")).alias("_nv"), F.col("_nl")))
        .alias("_b")
    )
    per_node = best.join(labels, "vec_id").select(
        "vec_id", "label",
        F.col("_b._nl").alias("predicted_label"),
        (F.col("_b._nl") == F.col("label")).cast("int").alias("correct"),
    )
    return (
        per_node.groupBy(F.col("label").alias("true_label"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("correct").cast("long").alias("n_correct"),
        )
        .orderBy("true_label")
    )


# ---------------------------------------------------------------------------
# similarity_topk_mmr (rows-only: greedy selection is not SQL-expressible)
# ---------------------------------------------------------------------------


@query("similarity_topk_mmr")  # rows-only: sequential greedy re-rank
def similarity_topk_mmr(spark, sf):
    """MMR diversified top-5 from each query's 20-candidate shortlist:
    λ·relevance − (1−λ)·max-sim-to-selected, greedy. The corpus-sized
    work is the one exact shortlist pass; the greedy loop runs per query
    group in Arrow-batched pandas (≤20 rows each, parallel across
    queries). Deterministic: 6-digit score grid with id tiebreaks at
    every pick — rows-only because greedy selection has no closed SQL
    form, but the output is bit-stable across engines/partitionings
    (asserted by the determinism suite)."""
    emb = table(spark, sf, "embeddings")
    return S.mmr_rerank(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, k=5,
        shortlist=20, lambda_=0.7,
    )


# ---------------------------------------------------------------------------
# pipeline_entity_resolution
# ---------------------------------------------------------------------------


@query(
    "pipeline_entity_resolution",
    oracle="""
    WITH p AS (
      SELECT p_partkey, lower(trim(p_name)) AS nm,
             split_part(p_name, ' ', 1) AS w1, p_size
      FROM part),
    t AS (
      SELECT p_partkey, w1, p_size,
             CASE WHEN len(nm) >= 3
                  THEN list_distinct(list_transform(
                         range(1, len(nm) - 1), i -> nm[i:i+2]))
                  ELSE [] END AS tg
      FROM p),
    matches AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM t a JOIN t b
        ON a.w1 = b.w1 AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
      WHERE round(len(list_intersect(a.tg, b.tg)) * 1.0
                  / (len(a.tg) + len(b.tg)
                     - len(list_intersect(a.tg, b.tg))), 6) >= 0.7),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM matches
      UNION ALL SELECT id_b, id_a FROM matches),
    reach AS (
      WITH RECURSIVE rr(u, v) AS (
        SELECT p_partkey, p_partkey FROM part
        UNION
        SELECT rr.u, e.v FROM rr JOIN edges e ON e.u = rr.v
      ) SELECT u, MIN(v) AS root FROM rr GROUP BY u)
    SELECT r.root AS entity_id,
           pr.p_name AS canonical_name,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           round(CAST(SUM(CAST(pp.p_retailprice AS DECIMAL(25,2)))
                 AS DOUBLE), 2) AS total_retail
    FROM reach r
    JOIN part pp ON pp.p_partkey = r.u
    JOIN part pr ON pr.p_partkey = r.root
    GROUP BY r.root, pr.p_name
    """,
)
def pipeline_entity_resolution(spark, sf):
    """The full entity-resolution pipeline composed from the engine's own
    stages: (1) blocking + trigram-Jaccard fuzzy matching over part names
    (block-quadratic candidates, the ``join_fuzzy_blocked`` operator),
    (2) union-find-filtering connected components over the match graph
    (min-id cluster labels, singletons kept), (3) golden-record rollup per
    entity — canonical name from the min-id representative, member count,
    decimal-exact value total. The oracle replays matching exactly and
    closes the clusters with a recursive min-label CTE — feasible because
    the match graph is a tiny fraction of the table; the Spark side's CC
    operator is the corpus-scale path."""
    from ..operators.dedup import blocked_fuzzy_join, connected_components

    p = table(spark, sf, "part")
    pk = p.select(
        "p_partkey", "p_name", "p_size",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("w1"),
    )
    matches = blocked_fuzzy_join(
        pk, pk, name_col="p_name", block_cols=["w1", "p_size"],
        threshold=0.7, id_col="p_partkey",
    ).select("id_a", "id_b")
    labels = connected_components(matches)
    # Singletons: parts not in any match edge resolve to themselves.
    resolved = (
        p.join(
            labels.withColumnRenamed("id_a", "p_partkey"), "p_partkey", "left"
        )
        .withColumn("entity_id", F.coalesce("cluster_id", "p_partkey"))
    )
    canon = p.select(
        F.col("p_partkey").alias("entity_id"),
        F.col("p_name").alias("canonical_name"),
    )
    return (
        resolved.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(
                F.sum(F.col("p_retailprice").cast("decimal(25,2)"))
                .cast("double"),
                2,
            ).alias("total_retail"),
        )
        .join(canon, "entity_id")
        .select("entity_id", "canonical_name", "n_members", "total_retail")
    )


# ---------------------------------------------------------------------------
# embedding_pca_loadings (round 5)
# ---------------------------------------------------------------------------

_EPCA_DIM = 64
_EPCA_ITERS = 2
_EPCA_SUM_DEC = "DECIMAL(25,12)"
_EPCA_DEC = "DECIMAL(15,6)"


def _epca_oracle() -> str:
    d, it = _EPCA_DIM, _EPCA_ITERS
    ctes = [
        f"""e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings)""",
        f"""n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e)""",
        f"""m AS (SELECT u.i AS i,
                  CAST(SUM(CAST(v[CAST(u.i AS INT)] AS {_EPCA_SUM_DEC}))
                       AS DOUBLE) AS s
            FROM e, unnest(range(1, {d + 1})) u(i) GROUP BY u.i)""",
        f"""p AS (SELECT u.i AS i, w.j AS j,
                  CAST(SUM(CAST(v[CAST(u.i AS INT)] * v[CAST(w.j AS INT)]
                                AS {_EPCA_SUM_DEC})) AS DOUBLE) AS sp
            FROM e, unnest(range(1, {d + 1})) u(i),
                 unnest(range(1, {d + 1})) w(j)
            WHERE w.j >= u.i GROUP BY u.i, w.j)""",
        f"""cu AS (SELECT p.i, p.j,
                   CAST(round(p.sp / n.n - (mi.s / n.n) * (mj.s / n.n), 6)
                        AS {_EPCA_DEC}) AS c
            FROM p JOIN m mi ON mi.i = p.i JOIN m mj ON mj.i = p.j
            CROSS JOIN n)""",
        """cf AS (SELECT i, j, c FROM cu
            UNION ALL SELECT j AS i, i AS j, c FROM cu WHERE i <> j)""",
        f"""v0 AS (SELECT u.i AS i, CAST(1 AS {_EPCA_DEC}) AS val
            FROM unnest(range(1, {d + 1})) u(i))""",
    ]
    for t in range(1, it + 1):
        ctes.append(
            f"""v{t} AS (SELECT cf.i,
                   CAST(round(CAST(SUM(cf.c * v{t-1}.val) AS DOUBLE), 6)
                        AS {_EPCA_DEC}) AS val
            FROM cf JOIN v{t-1} ON v{t-1}.i = cf.j GROUP BY cf.i)"""
        )
    return f"""
    WITH {', '.join(ctes)}
    SELECT CAST(i AS BIGINT) AS dim_index,
           round(CAST(val AS DOUBLE)
                 / sqrt(CAST((SELECT SUM(val * val) FROM v{it}) AS DOUBLE)),
                 6) AS loading
    FROM v{it}
    """


@query("embedding_pca_loadings", oracle=_epca_oracle())
def embedding_pca_loadings(spark, sf):
    """First principal direction of the 64-dim embedding corpus by FULLY
    DISTRIBUTED power iteration — no driver math at any width. The
    covariance's 2080 upper-triangle moment sums come from ONE
    Arrow-batched numpy pass (``mapInArrow``): each partition reduces
    its rows to 2080 int64 partials on the 1e-12 grid (vectorized
    row-chunked products; int64 addition is exact and order-free), and
    partials merge as DECIMAL so the cross-partition sum can never
    overflow at corpus scale — 2080 longs per partition on the wire,
    nothing else. Measured 9× over the expression-tree pair explode
    (interpreted HOFs, VERDICT r03's known cost class) at sf0.1. The
    64x64 matrix and the 64-row iterate live as DataFrames; each
    iteration is an equi-join + exact-decimal hash aggregate — the
    shape that scales to any dimensionality a covariance fits at.
    Determinism: covariance entries and every iterate re-round to the
    1e-6 DECIMAL grid, so no float-sum order or FMA fusion can drift;
    one final double sqrt/divide for the normalization, rounded 6.
    Output: (dim_index, loading) — 64 rows."""
    emb = table(spark, sf, "embeddings")
    d = _EPCA_DIM
    e = emb.select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    n = e.agg(F.count(F.lit(1)).cast("double").alias("n"))
    m = (
        e.select(F.posexplode("v").alias("i0", "x"))
        .groupBy("i0")
        .agg(F.sum(F.col("x").cast(_EPCA_SUM_DEC)).cast("double").alias("s"))
        .select((F.col("i0") + 1).alias("i"), "s")
    )
    # Python-int accumulators + per-chunk guarded int64 sums (the
    # exact_comoments pattern; r07 factored the shared core into
    # functions.scalars.triangle_moment_partials): an int64 running acc
    # silently wraps past ~9e6 rows/partition at the 1e12 grid scale,
    # and the partial itself ships as DECIMAL(38,0) so no partition
    # total can overflow regardless of magnitude. Row-chunked
    # upper-triangle products: chunk × 2080 doubles (~17 MB at 1024
    # rows) — never the full chunk × d × d cube. Indices are 1-based
    # to join the SQL oracle's unnest(range(1, d+1)).
    from ..functions.scalars import triangle_moment_partials

    p = (
        emb.select("embedding")
        .mapInArrow(
            triangle_moment_partials("embedding", d, one_based=True),
            "i int, j int, pl decimal(38,0)",
        )
        .groupBy("i", "j")
        .agg(
            (F.sum(F.col("pl").cast("decimal(38,0)")) / F.lit(10.0 ** 12))
            .cast("double")
            .alias("sp")
        )
    )
    mi = m.select(F.col("i").alias("_mi"), F.col("s").alias("si"))
    mj = m.select(F.col("i").alias("_mj"), F.col("s").alias("sj"))
    cu = (
        p.join(F.broadcast(mi), p.i == mi._mi)
        .join(F.broadcast(mj), p.j == mj._mj)
        .join(F.broadcast(n))
        .select(
            "i", "j",
            F.round(
                F.col("sp") / F.col("n")
                - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n")),
                6,
            ).cast(_EPCA_DEC).alias("c"),
        )
    )
    cf = cu.unionByName(
        cu.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c"
        )
    ).localCheckpoint()
    v = (
        cf.sparkSession.range(1, d + 1)
        .select(F.col("id").alias("i"), F.lit(1).cast(_EPCA_DEC).alias("val"))
    )
    for _ in range(_EPCA_ITERS):
        v = (
            cf.join(F.broadcast(v.withColumnRenamed("i", "j")), "j")
            .groupBy("i")
            .agg(
                F.round(F.sum(F.col("c") * F.col("val")).cast("double"), 6)
                .cast(_EPCA_DEC)
                .alias("val")
            )
        )
    norm = v.agg(
        F.sum(F.col("val") * F.col("val")).cast("double").alias("n2")
    )
    return (
        v.join(F.broadcast(norm))
        .select(
            F.col("i").cast("long").alias("dim_index"),
            F.round(
                F.col("val").cast("double") / F.sqrt(F.col("n2")), 6
            ).alias("loading"),
        )
    )


# ---------------------------------------------------------------------------
# er_fellegi_sunter_em / er_match_classify (round 8)
# ---------------------------------------------------------------------------
#
# Probabilistic record linkage (Fellegi & Sunter 1969; the Splink/dedupe
# production recipe) — the stage the composed ER pipeline above replaces
# with a fixed fuzzy threshold: learn per-field agreement probabilities
# m_k = P(field agrees | match), u_k = P(agrees | non-match) and the
# match prevalence λ by EM over DISCRETE comparison patterns, then score
# every candidate pair by its pattern's posterior. The decisive scale
# property: the corpus-sized work is ONE blocked pair join + ONE
# aggregation down to ≤ 2^K pattern rows (map-side combinable); the EM
# itself runs on that corpus-size-INDEPENDENT pattern frame (the
# opq_rotation bounded-frame convention), each iteration one tiny job
# whose 2K + 1 updated parameters re-enter as decimal literals (the
# quality_classifier_train convention — plan depth constant, nothing
# corpus-sized at the driver).
#
# Exactness: every probability lives on the 1e-6 decimal grid; the
# pattern likelihoods are ladder-cast decimal products (7,6 → 13,12 →
# 19,18 → 25,24 — each step lossless, never near either engine's
# 38-digit cap); posteriors and parameter updates are single
# double-divisions rounded back to the grid (the qcls update shape); the
# weighted sums avoid the decimal×int-width blowup via SUM(CASE) rather
# than multiplying by the 0/1 pattern bit (DuckDB silently falls back to
# DOUBLE past width 38 — measured, it changes nothing on this data, but
# the CASE form keeps both engines in decimal by construction).
#
# The corpus has no second source, so — as with text_url_canonicalize's
# URLs — source B is a deterministic perturbation of customer: ¼ of
# names suffixed, ⅓ of acctbal-buckets shifted, ⅕ of segments replaced;
# blocking on c_nationkey. EM recovers the planted parameters at sf0.01:
# m = (0.740, 0.683, 0.815) vs planted (0.75, 0.667, 0.8),
# u = (0.0003, 0.0085, 0.159) vs (≈0, ≈0.01, ≈0.2), λ = 0.0162 vs
# 1500/92_000 ≈ 0.0163 — unsupervised, from pattern counts alone.

_ER_ITERS = 12
_ER_INIT = {"m": "0.9", "u": "0.1", "lam": "0.05"}
_ER_P6 = "DECIMAL(7,6)"
_ER_W = "DECIMAL(15,6)"

_ER_PAT_SQL = """
    era AS (SELECT c_custkey AS id_a, c_nationkey AS nk, c_name AS name_a,
                   floor(c_acctbal/100) AS bal_a, c_mktsegment AS seg_a
            FROM customer),
    erb AS (SELECT c_custkey AS id_b, c_nationkey AS nk,
                   CASE WHEN c_custkey % 4 = 0 THEN c_name || '-x'
                        ELSE c_name END AS name_b,
                   floor(c_acctbal/100)
                     + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS bal_b,
                   CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN'
                        ELSE c_mktsegment END AS seg_b
            FROM customer),
    erpairs AS (
      SELECT id_a, id_b,
             CAST(name_a = name_b AS INT) AS g1,
             CAST(bal_a = bal_b AS INT) AS g2,
             CAST(seg_a = seg_b AS INT) AS g3
      FROM era JOIN erb USING (nk)),
    erpat AS MATERIALIZED (
      SELECT g1, g2, g3, COUNT(*) AS n,
             COUNT(*) FILTER (WHERE id_a = id_b) AS n_true
      FROM erpairs GROUP BY 1, 2, 3)
"""


def _er_sql_prod(p0, t1, t2, t3):
    """The lossless decimal ladder for λ·Πterm (all factors ≤ 1)."""
    return (f"CAST(CAST(CAST({p0} * {t1} AS DECIMAL(13,12)) * {t2} "
            f"AS DECIMAL(19,18)) * {t3} AS DECIMAL(25,24))")


def _er_sql_w(mpfx, upfx):
    """Posterior w = round(pM / (pM + pU), 6) from par-CTE columns."""
    term = lambda p, g: (f"(CASE WHEN {g} = 1 THEN {p} "  # noqa: E731
                         f"ELSE CAST(1 AS {_ER_P6}) - {p} END)")
    pm = _er_sql_prod("lam", term(f"{mpfx}1", "g1"),
                      term(f"{mpfx}2", "g2"), term(f"{mpfx}3", "g3"))
    pu = _er_sql_prod(f"(CAST(1 AS {_ER_P6}) - lam)",
                      term(f"{upfx}1", "g1"),
                      term(f"{upfx}2", "g2"), term(f"{upfx}3", "g3"))
    return (f"CAST(round(CAST({pm} AS DOUBLE) / "
            f"CAST({pm} + {pu} AS DOUBLE), 6) AS {_ER_W})")


def _er_oracle_ctes():
    """erpat + par0 + unrolled EM iterations wp1/par1 … wp_T/par_T."""
    i = _ER_INIT
    par0 = ", ".join(
        [f"CAST({i['m']} AS {_ER_P6}) AS m{k}" for k in (1, 2, 3)]
        + [f"CAST({i['u']} AS {_ER_P6}) AS u{k}" for k in (1, 2, 3)]
        + [f"CAST({i['lam']} AS {_ER_P6}) AS lam"]
    )
    ctes = [_ER_PAT_SQL, f"erpar0 AS (SELECT {par0})"]
    clamp = lambda x: (  # noqa: E731
        f"LEAST(CAST(0.999999 AS {_ER_P6}), GREATEST("
        f"CAST(0.000001 AS {_ER_P6}), CAST(round({x}, 6) AS {_ER_P6})))")
    for t in range(1, _ER_ITERS + 1):
        ctes.append(
            f"erwp{t} AS MATERIALIZED (SELECT g1, g2, g3, n, "
            f"{_er_sql_w('m', 'u')} AS w "
            f"FROM erpat CROSS JOIN erpar{t-1})")
        ms = ", ".join(
            clamp(f"CAST(SUM(CASE WHEN g{k} = 1 THEN nw END) AS DOUBLE)"
                  f" / CAST(SUM(nw) AS DOUBLE)") + f" AS m{k}"
            for k in (1, 2, 3))
        us = ", ".join(
            clamp(f"CAST(SUM(CASE WHEN g{k} = 1 THEN nw1 END) AS DOUBLE)"
                  f" / CAST(SUM(nw1) AS DOUBLE)") + f" AS u{k}"
            for k in (1, 2, 3))
        lm = clamp("CAST(SUM(nw) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)")
        ctes.append(
            f"erpar{t} AS MATERIALIZED (SELECT {ms}, {us}, {lm} AS lam "
            f"FROM (SELECT g1, g2, g3, n, "
            f"CAST(n AS DECIMAL(20,0)) * w AS nw, "
            f"CAST(n AS DECIMAL(20,0)) * (CAST(1 AS {_ER_W}) - w) AS nw1 "
            f"FROM erwp{t}))")
    return ",\n".join(ctes)


def er_source_a(cust):
    """Source A: the reference records (shared by batch and streaming —
    the single definition the `stream_er_match` parity invariant rests
    on)."""
    return cust.select(
        F.col("c_custkey").alias("id_a"), F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("name_a"),
        F.floor(F.col("c_acctbal") / 100).alias("bal_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )


def er_source_b(cust):
    """Source B: the planted deterministic perturbation of the customer
    records (¼ names suffixed, ⅓ balance buckets shifted, ⅕ segments
    replaced) — single-sourced so the batch pairs, the pattern frame,
    and the streaming twin can never drift apart."""
    return cust.select(
        F.col("c_custkey").alias("id_b"), F.col("c_nationkey").alias("nk"),
        F.when(F.col("c_custkey") % 4 == 0,
               F.concat(F.col("c_name"), F.lit("-x")))
        .otherwise(F.col("c_name")).alias("name_b"),
        (F.floor(F.col("c_acctbal") / 100)
         + F.when(F.col("c_custkey") % 3 == 0, 1).otherwise(0))
        .alias("bal_b"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment")).alias("seg_b"),
    )


def er_gamma(joined):
    """Discrete comparison vector over an A⋈B pair frame."""
    return joined.select(
        "id_a", "id_b",
        (F.col("name_a") == F.col("name_b")).cast("int").alias("g1"),
        (F.col("bal_a") == F.col("bal_b")).cast("int").alias("g2"),
        (F.col("seg_a") == F.col("seg_b")).cast("int").alias("g3"),
    )


def _er_pairs(spark, sf):
    """(id_a, id_b, g1, g2, g3) — the nation-blocked candidate pairs with
    their discrete comparison vectors; a lazy plan (one equi-join + narrow
    projections), re-planned by each consumer. The A side is fanned out
    (guide §2.5): the blocked join broadcasts the B side, so the whole
    block-quadratic pair fanout (~9M rows at sf0.1) streams through the
    A-side scan's tasks — a single task on the bench's one-row-group
    customer file without the repartition."""
    from ..session import fan_out

    c = table(spark, sf, "customer")
    return er_gamma(fan_out(er_source_a(c)).join(er_source_b(c), "nk"))


@memo
def _er_pattern_frame(spark, sf):
    """(g1, g2, g3, n, n_true) — the candidate pairs reduced to ≤ 2^3
    comparison-pattern rows in one map-side-combinable aggregate;
    localCheckpointed because the EM re-reads it _ER_ITERS times."""
    pat = (
        _er_pairs(spark, sf)
        .groupBy("g1", "g2", "g3")
        .agg(F.count(F.lit(1)).alias("n"),
             F.count_if(F.col("id_a") == F.col("id_b")).alias("n_true"))
    )
    return pat.localCheckpoint()


def _er_lit(v):
    return F.lit(v).cast(_ER_P6)


def _er_w_col(par):
    """Spark twin of ``_er_sql_w``: posterior from params ``par`` (dict
    with m1..m3, u1..u3, lam as Decimals — compiled to DECIMAL(7,6)
    literals — or as DECIMAL(7,6) Columns from a params frame; the EM
    loop uses the column form so its expression tree builds once) — the
    identical cast ladder either way: a 1-p column is cast back to
    DECIMAL(7,6) (exact, the grid is closed under 1-p) so every
    downstream product types identically to the literal path."""
    from decimal import Decimal

    from pyspark.sql import Column

    one = Decimal(1)

    def _p(name):
        v = par[name]
        return v if isinstance(v, Column) else _er_lit(v)

    def _q(name):  # 1 - p, type-pinned to the same DECIMAL(7,6)
        v = par[name]
        if isinstance(v, Column):
            return (F.lit(1).cast(_ER_P6) - v).cast(_ER_P6)
        return _er_lit(one - v)

    term = lambda p, g: (  # noqa: E731
        F.when(F.col(g) == 1, _p(p)).otherwise(_q(p)))

    def prod(p0, ts):
        x = (p0 * ts[0]).cast("decimal(13,12)")
        x = (x * ts[1]).cast("decimal(19,18)")
        return (x * ts[2]).cast("decimal(25,24)")

    pm = prod(_p("lam"),
              [term(f"m{k}", f"g{k}") for k in (1, 2, 3)])
    pu = prod(_q("lam"),
              [term(f"u{k}", f"g{k}") for k in (1, 2, 3)])
    return F.round(pm.cast("double") / (pm + pu).cast("double"), 6).cast(_ER_W)


@memo
def shared_er_params(spark, sf):
    """Session-memoized EM fit: dict of 7 exact 1e-6-grid Decimals
    (m1..m3, u1..u3, lam). Each iteration is ONE engine-side job over
    the 8-row pattern frame — posterior projection + weighted-sum
    aggregate + clamped grid update in the same plan — collecting 7
    bounded values that re-enter the next iteration as literals."""
    return _er_em_fit(_er_pattern_frame(spark, sf))


def _er_em_fit(pat):
    """The EM loop itself over ANY (g1, g2, g3, n, ...) pattern frame —
    shared by the full fit and the incremental merged-counts refit.

    Optimization round 11 (the ``shared_quality_classifier`` treatment):
    wave 1 moved the params into a broadcast 1-row frame (the
    posterior/aggregate/update Column trees build once, iteration-
    invariant codegen); wave 4 CHAINS all ``_ER_ITERS`` iterations into
    ONE lazy plan collected ONCE — exactly the oracle's
    ``erpar{t} = f(agg(erpat × erpar{t-1}))`` CTE shape. The update
    step is a pure function of the iteration's aggregates (unlike the
    LR trainer it never references the previous params directly), so
    each chained level is Aggregate(Project(Join(pat, prev))) with
    ``prev`` referenced exactly once — the plan stays LINEAR. This
    removes ``_ER_ITERS`` driver synchronization points (collect +
    createDataFrame round trips → 1 + 0). Arithmetic unchanged — the
    params columns are the same DECIMAL(7,6) values the literals were
    (oracle-checked)."""
    from decimal import Decimal

    spark = pat.sparkSession
    i = _ER_INIT
    par = {**{f"m{k}": Decimal(i["m"]) for k in (1, 2, 3)},
           **{f"u{k}": Decimal(i["u"]) for k in (1, 2, 3)},
           "lam": Decimal(i["lam"])}
    pnames = list(par)
    pschema = ", ".join(f"_p_{n} decimal(7,6)" for n in pnames)
    pexprs = {n: F.col(f"_p_{n}") for n in pnames}
    clamp = lambda x: F.least(  # noqa: E731
        F.lit(0.999999).cast(_ER_P6),
        F.greatest(F.lit(0.000001).cast(_ER_P6),
                   F.round(x, 6).cast(_ER_P6)))
    proj_cols = [
        F.col("g1"), F.col("g2"), F.col("g3"), F.col("n"),
        (F.col("n").cast("decimal(20,0)") * _er_w_col(pexprs))
        .alias("nw"),
        (F.col("n").cast("decimal(20,0)")
         * (F.lit(1).cast(_ER_W) - _er_w_col(pexprs))).alias("nw1"),
    ]
    agg_cols = [
        F.sum("n").alias("_n"),
        F.sum("nw").alias("_s"), F.sum("nw1").alias("_s1"),
        *[F.sum(F.when(F.col(f"g{k}") == 1, F.col("nw")))
          .alias(f"_sg{k}") for k in (1, 2, 3)],
        *[F.sum(F.when(F.col(f"g{k}") == 1, F.col("nw1")))
          .alias(f"_sug{k}") for k in (1, 2, 3)],
    ]
    # Updates alias straight to the params-frame column names so the
    # iteration's output frame IS the next iteration's params frame.
    upd_cols = [
        *[clamp(F.col(f"_sg{k}").cast("double")
                / F.col("_s").cast("double")).alias(f"_p_m{k}")
          for k in (1, 2, 3)],
        *[clamp(F.col(f"_sug{k}").cast("double")
                / F.col("_s1").cast("double")).alias(f"_p_u{k}")
          for k in (1, 2, 3)],
        clamp(F.col("_s").cast("double")
              / F.col("_n").cast("double")).alias("_p_lam"),
    ]
    pframe = spark.createDataFrame(
        [tuple(par[n] for n in pnames)], pschema
    )
    for _ in range(_ER_ITERS):
        pframe = (
            pat.crossJoin(F.broadcast(pframe)).select(*proj_cols)
            .agg(*agg_cols)
            .select(*upd_cols)
        )
    # AQE off for THIS collect only (optimization round 12 — the
    # shared_quality_classifier treatment, same rationale and A/B
    # method): the chained EM is _ER_ITERS sequential one-row
    # aggregates; AQE has nothing to re-plan and charges a driver
    # sync per stage. Plan-shape property, not bench-scale tuning.
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"):
        row = pframe.collect()[0]
    return {n: row[f"_p_{n}"] for n in pnames}


_ER_PARAM_NAMES = ["m_name", "m_bal", "m_seg", "u_name", "u_bal", "u_seg",
                   "lambda"]


@query(
    "er_fellegi_sunter_em",
    oracle=f"""
    WITH {_er_oracle_ctes()}
    SELECT UNNEST({_ER_PARAM_NAMES!r}) AS param,
           UNNEST([CAST(m1 AS DOUBLE), CAST(m2 AS DOUBLE),
                   CAST(m3 AS DOUBLE), CAST(u1 AS DOUBLE),
                   CAST(u2 AS DOUBLE), CAST(u3 AS DOUBLE),
                   CAST(lam AS DOUBLE)]) AS value
    FROM erpar{_ER_ITERS}
    """,
)
def er_fellegi_sunter_em(spark, sf):
    """Fellegi–Sunter EM fit for probabilistic record linkage — one row
    per learned parameter. EXACT-oracled: DuckDB rebuilds both sources,
    re-blocks, re-aggregates the comparison patterns, and replays all
    twelve EM iterations on the identical decimal grid, so any drift in
    blocking, pattern construction, likelihood ladder, posterior
    rounding, or the clamped update fails the value compare. Unsupervised
    parameter recovery measured at sf0.01 (docstring header above):
    m within 0.02 of planted, u within 0.01, λ within 0.0001. Plan: one
    nationkey-blocked equi-join (block-quadratic, never corpus-quadratic)
    feeds one map-side-combinable aggregate down to ≤ 8 pattern rows;
    EM cost is corpus-size-independent from there — at 100 TB this is
    a single shuffle plus twelve 8-row jobs."""
    par = shared_er_params(spark, sf)
    vals = [par["m1"], par["m2"], par["m3"],
            par["u1"], par["u2"], par["u3"], par["lam"]]
    return spark.createDataFrame(
        [(n, float(v)) for n, v in zip(_ER_PARAM_NAMES, vals)],
        "param string, value double",
    )


def er_classify_oracle():
    """The pattern-classification oracle SQL — single-sourced for
    ``er_match_classify`` AND its streaming twin (their documented
    invariant is literally 'same oracle')."""
    return f"""
    WITH {_er_oracle_ctes()}
    SELECT g1 AS name_eq, g2 AS bal_eq, g3 AS seg_eq,
           CAST(n AS BIGINT) AS n_pairs,
           CAST(n_true AS BIGINT) AS n_true_match,
           CAST(w AS DOUBLE) AS match_prob,
           CAST(w >= CAST(0.5 AS {_ER_W}) AS INT) AS is_match
    FROM (SELECT g1, g2, g3, n, n_true, {_er_sql_w('m', 'u')} AS w
          FROM erpat CROSS JOIN erpar{_ER_ITERS})
    """


def er_classify_frame(pat, par):
    """Score a (g1, g2, g3, n, n_true) pattern frame with the trained
    posterior — the single Spark-side twin of ``er_classify_oracle``.
    The deep decimal posterior is PROJECTED once and both match_prob
    and the 0.5 decision derive from that column."""
    from decimal import Decimal as _D

    return (
        pat.withColumn("_w", _er_w_col(par))
        .select(
            F.col("g1").alias("name_eq"), F.col("g2").alias("bal_eq"),
            F.col("g3").alias("seg_eq"),
            F.col("n").cast("long").alias("n_pairs"),
            F.col("n_true").cast("long").alias("n_true_match"),
            F.col("_w").cast("double").alias("match_prob"),
            (F.col("_w") >= F.lit(_D("0.5")).cast(_ER_W)).cast("int")
            .alias("is_match"),
        )
    )


@query("er_match_classify", oracle=er_classify_oracle())
def er_match_classify(spark, sf):
    """Score every candidate pattern with the EM-trained Fellegi–Sunter
    posterior and classify at the 0.5 decision point — one row per
    comparison pattern with its pair count, PLANTED-truth match count
    (id_a = id_b, auditable because source B is a perturbation of A),
    posterior, and decision. At sf0.01 the classifier is measurably
    good: every name-agreement pattern is 100% true matches in the
    planted truth and scores 0.766–0.99995, the all-disagree pattern is
    75,492 pairs at posterior 0.0003, and the hardest pattern (bal+seg
    agree, name not — 347 pairs, 200 true) lands at 0.638, trading 147
    false positives for 200 recovered matches exactly as the λ-weighted
    likelihood ratio dictates. Scoring
    is a broadcast of 7 literals over the pattern frame — per-PAIR
    scoring at 100 TB is the same expression on the un-aggregated join,
    embarrassingly parallel. EXACT-oracled end to end (same CTE chain as
    the train query plus one scoring projection)."""
    return er_classify_frame(
        _er_pattern_frame(spark, sf), shared_er_params(spark, sf)
    )


@query("er_params_roundtrip", oracle=ORACLES["er_match_classify"])
def er_params_roundtrip(spark, sf):
    """Model-artifact ROUND-TRIP for the EM-trained Fellegi–Sunter
    parameters (round 9 — the ``quality_classifier_roundtrip`` /
    ``sketch_roundtrip`` convention extended to the linkage model): the
    7 learned decimals (m1..m3, u1..u3, λ) are written to parquet
    through the engine's own hadoopParquet OUTPUT adapter, read back
    cold through the INPUT adapter (a lineage-free frame — exactly
    what a later linkage session sees), and THOSE decimals score the
    comparison-pattern frame. A production linkage model is trained
    once and classifies for months; before this entry the parameters
    lived only in the session memo (``shared_er_params``). The oracle
    is the same exact train-replay + classify SQL as
    ``er_match_classify`` — equality proves classify ≡ in-session,
    i.e. parquet DECIMAL(7,6) round-trips the grid exactly and the
    cold-read serving plan (7 broadcast literals over ≤ 8 pattern
    rows) is unchanged."""
    from ..model import DataStream, StreamType
    from ..registry import resolve_input, resolve_output
    from . import scratch_dir

    par = shared_er_params(spark, sf)
    order = ["m1", "m2", "m3", "u1", "u2", "u3", "lam"]
    pdf = spark.createDataFrame(
        [(i, k, par[k]) for i, k in enumerate(order)],
        f"idx int, param string, value {_ER_P6.lower()}",
    )
    base_dir = scratch_dir("erpar")
    out = resolve_output("hadoopParquet")().configure({}).initialize(
        spark, base_dir
    )
    out.save("er_params", DataStream("er_params", pdf, StreamType.COLUMNAR))
    inp = resolve_input("hadoopColumnar")().configure(
        {"parquet": True}
    ).initialize(spark, base_dir)
    [ds] = inp.load("er_params").values()
    cold = {r["param"]: r["value"] for r in ds.df.collect()}  # 7 rows
    return er_classify_frame(_er_pattern_frame(spark, sf), cold)


@query(
    "er_resolve_golden",
    oracle=f"""
    WITH {_er_oracle_ctes()},
    erscored AS (
      SELECT id_a, id_b, {_er_sql_w('m', 'u')} AS w
      FROM erpairs CROSS JOIN erpar{_ER_ITERS}),
    erm AS (
      SELECT id_a, id_b FROM erscored
      WHERE w >= CAST(0.5 AS {_ER_W}) AND id_a <> id_b),
    eredges AS (
      SELECT id_a AS u, id_b AS v FROM erm
      UNION SELECT id_b, id_a FROM erm),
    erreach AS (
      WITH RECURSIVE rr(u, v) AS (
        SELECT c_custkey, c_custkey FROM customer
        UNION
        SELECT rr.u, e.v FROM rr JOIN eredges e ON e.u = rr.v
      ) SELECT u, MIN(v) AS root FROM rr GROUP BY u)
    SELECT r.root AS entity_id, cn.c_name AS canonical_name,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           round(CAST(SUM(CAST(cc.c_acctbal AS DECIMAL(25,2)))
                 AS DOUBLE), 2) AS total_acctbal
    FROM erreach r
    JOIN customer cc ON cc.c_custkey = r.u
    JOIN customer cn ON cn.c_custkey = r.root
    GROUP BY r.root, cn.c_name
    """,
)
def er_resolve_golden(spark, sf):
    """The probabilistic-ER pipeline end to end: Fellegi–Sunter posterior
    decisions (w ≥ 0.5, non-self) become match edges, connected
    components resolve entities (union-find-filtering operator;
    singletons resolve to themselves), and a golden record rolls up per
    entity — canonical name from the min-id representative, member
    count, decimal-exact balance total. This is ``pipeline_entity_
    resolution`` with the fixed fuzzy threshold replaced by the LEARNED
    likelihood-ratio decision, i.e. Splink's architecture. EXACT-oracled:
    the oracle replays blocking, the 12 EM iterations, pair scoring, and
    closes the match graph with a recursive min-label CTE (feasible:
    false-positive cross edges are a tiny fraction of pairs); the Spark
    side's CC operator is the corpus-scale path. Plan: pair scoring is a
    literal-weight projection on the blocked join (no re-aggregation),
    edges collapse to ~1% of pairs before CC, golden rollup is one hash
    aggregate + two broadcast-able dimension joins."""
    from decimal import Decimal as _D

    from ..operators.dedup import connected_components

    par = shared_er_params(spark, sf)
    # Score the ≤ 2^3 PATTERNS, not the pairs: the deep decimal posterior
    # runs 8 times, and pairs reach their decision through a broadcast
    # semi join on the pattern bits (measured at sf0.1: 40 s → ~3 s; the
    # 9M-pair pass keeps only three tiny comparisons per row).
    match_pats = (
        _er_pattern_frame(spark, sf)
        .withColumn("_w", _er_w_col(par))
        .filter(F.col("_w") >= F.lit(_D("0.5")).cast(_ER_W))
        .select("g1", "g2", "g3")
    )
    m = (
        _er_pairs(spark, sf)
        .join(F.broadcast(match_pats), ["g1", "g2", "g3"], "semi")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
    )
    labels = connected_components(m)
    c = table(spark, sf, "customer")
    resolved = (
        c.join(labels.withColumnRenamed("id_a", "c_custkey"),
               "c_custkey", "left")
        .withColumn("entity_id", F.coalesce("cluster_id", "c_custkey"))
    )
    canon = c.select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("canonical_name"),
    )
    return (
        resolved.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(25,2)"))
                .cast("double"), 2,
            ).alias("total_acctbal"),
        )
        .join(canon, "entity_id")
        .select("entity_id", "canonical_name", "n_members", "total_acctbal")
    )


@query("er_fellegi_incremental", oracle=ORACLES["er_fellegi_sunter_em"])
def er_fellegi_incremental(spark, sf):
    """Incremental Fellegi–Sunter refit — the family's third form
    (batch + incremental + streaming, the suite-wide dedup symmetry):
    source-B records land in two INSTALLMENTS (custkey % 3 splits the
    B side), each installment is blocked against the full A side and
    reduced to its own pattern counts, the two count frames MERGE BY
    ADDITION (comparison-pattern counts are associative — the whole
    reason the EM state is pattern counts and not pairs), and the EM
    refit runs on the merged frame. The refit over merged counts is
    PROVABLY identical to the full-corpus fit, and the oracle IS the
    full-corpus fit — value-equality here is the incremental-merge
    correctness proof, not a re-derivation. At 100 TB this is the
    nightly-ingest posture: yesterday's 8-row pattern frame + today's
    delta aggregate, never a re-scan of history."""
    c = table(spark, sf, "customer")
    a = er_source_a(c)
    parts = []
    for r in (0, 1):  # two installments of the B side
        b = er_source_b(
            c.filter((F.col("c_custkey") % 3 == r)
                     if r == 0 else (F.col("c_custkey") % 3 != 0))
        )
        parts.append(
            er_gamma(a.join(b, "nk"))
            .groupBy("g1", "g2", "g3")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count_if(F.col("id_a") == F.col("id_b"))
                 .alias("n_true"))
        )
    merged = (
        parts[0].unionAll(parts[1])
        .groupBy("g1", "g2", "g3")
        .agg(F.sum("n").alias("n"), F.sum("n_true").alias("n_true"))
        .localCheckpoint()
    )
    par = _er_em_fit(merged)
    vals = [par["m1"], par["m2"], par["m3"],
            par["u1"], par["u2"], par["u3"], par["lam"]]
    return spark.createDataFrame(
        [(n, float(v)) for n, v in zip(_ER_PARAM_NAMES, vals)],
        "param string, value double",
    )
