"""Graph suite entries: iterative rank propagation over a derived trade
graph, oracle-checked by unrolling the iterations into chained SQL CTEs
(recursive CTEs can't aggregate in the recursive term, so the oracle
unrolls — same math, K copies).

Cross-engine discipline: ranks are fixed-point BIGINT parts-per-billion;
every operation is integer (floor division for contribution and damping)
so both engines agree bit-for-bit — double rounding's tie-break behavior
differs between engines and compounds over iterations (~2% of nodes by
round 5 when this used round-to-9 doubles).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import query, scoped_conf, table

_ITERS = 5
_DAMP_PPB = 850_000_000
_SCALE_PPB = 1_000_000_000

_GRAPH_PRELUDE = f"""
WITH pairs AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey + 1000000 AS s
  FROM lineitem),
edges AS (SELECT p AS src, s AS dst FROM pairs
          UNION ALL SELECT s AS src, p AS dst FROM pairs),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nodes AS (SELECT node FROM (SELECT src AS node FROM edges
                            UNION SELECT dst AS node FROM edges)),
nn AS (SELECT COUNT(*) AS n FROM nodes),
it0 AS (SELECT node, {_SCALE_PPB} // (SELECT n FROM nn) AS rank_ppb
        FROM nodes)"""


def _pagerank_oracle(iters: int) -> str:
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
it{k} AS (
  SELECT e.dst AS node,
         ({_SCALE_PPB} - {_DAMP_PPB}) // (SELECT n FROM nn)
           + ({_DAMP_PPB} * SUM(r.rank_ppb // d.deg)) // {_SCALE_PPB}
           AS rank_ppb
  FROM it{k - 1} r
  JOIN edges e ON e.src = r.node
  JOIN deg d ON d.src = r.node
  GROUP BY e.dst)""")
    return (
        _GRAPH_PRELUDE + "," + ",".join(steps)
        + f"\nSELECT node, CAST(rank_ppb AS BIGINT) AS rank_ppb FROM it{iters}"
    )


@query("graph_pagerank", oracle=_pagerank_oracle(_ITERS))
def graph_pagerank(spark, sf):
    """PageRank (5 fixed iterations, damping 0.85, fixed-point ppb ranks)
    over the bidirectional part↔supplier trade graph (one distinct pass
    over lineitem, no join; supplier ids offset by 1e6 to disjoin the id
    spaces; bidirectional edges avoid dangling-node mass leaks). Each
    iteration is one join + one hash aggregate on the node id — the whole
    K-round loop is a single lazy plan over the persisted adjacency.
    Shuffle partitions scoped to the ~1.2M-edge graph (8 beats 32: less
    per-stage scheduling across the 12-stage loop). The oracle unrolls
    the same five integer-arithmetic rounds as chained CTEs."""
    from ..operators.graph import pagerank

    with scoped_conf(spark, "spark.sql.shuffle.partitions", 8):
        # eager: the loop executes NOW, while the scoped partition count
        # is in force (a lazy return would run under the caller's restored
        # conf), and the operator releases its cached adjacency.
        return pagerank(
            _trade_edges(spark, sf),
            iterations=_ITERS,
            damping_ppb=_DAMP_PPB,
            eager=True,
        )


def _trade_edges(spark, sf):
    """Bidirectional part↔supplier trade graph (same construction as
    ``graph_pagerank``): one distinct pass over lineitem, supplier ids
    offset by 1e6 to disjoin the id spaces."""
    li = table(spark, sf, "lineitem")
    pairs = li.select(
        F.col("l_partkey").alias("p"),
        (F.col("l_suppkey") + 1000000).alias("s"),
    ).distinct()
    return pairs.select(
        F.col("p").alias("src"), F.col("s").alias("dst")
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("p").alias("dst")))


@query(
    "graph_degree_hist",
    oracle=_GRAPH_PRELUDE
    + """
    SELECT CAST(deg AS BIGINT) AS deg,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY deg
    """,
)
def graph_degree_hist(spark, sf):
    """Degree distribution of the trade graph: two chained hash
    aggregates (node → degree, degree → node count). The first shuffles
    on the node id; the second's input is one row per node and its
    output one row per distinct degree — the classic heavy-tail
    diagnostic that decides whether downstream joins need skew
    handling. Every node appears as ``src`` because the edge set is
    bidirectionalized, so out-degree == total degree."""
    edges = _trade_edges(spark, sf)
    return (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


@query(
    "graph_triangles",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM pairs e1
      JOIN pairs e2 ON e2.a = e1.b
      JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
    FROM (SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY node
    """,
)
def graph_triangles(spark, sf):
    """Per-node triangle counts over the co-purchase graph (parts
    appearing together in ≥ 2 orders — the same thresholded pair pass as
    ``market_basket_pairs``). Uses degree-ordered wedge counting
    (:func:`..operators.graph.triangle_participation`): edges oriented
    low-degree → high-degree bound the wedge fanout by O(√|E|) per node
    on power-law graphs, where the oracle's naive triple self-join is
    hub-quadratic — same count, scale-safe plan. Triangle density over
    co-purchase edges is the standard cohesion signal for community
    detection and recommender quality checks."""
    from ..operators.graph import triangle_participation

    li = table(spark, sf, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
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
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 8):
        # eager: the operator localCheckpoints its result inside.
        return triangle_participation(pairs, src="pa", dst="pb")


_BFS_HOPS = 3


def _bfs_oracle(max_hops: int) -> str:
    steps = []
    for k in range(1, max_hops + 1):
        steps.append(f"""
    f{k} AS (
      SELECT node, MIN(hops) AS hops FROM (
        SELECT node, hops FROM f{k - 1}
        UNION ALL
        SELECT e.dst AS node, f.hops + 1 AS hops
        FROM f{k - 1} f JOIN edges e ON e.src = f.node)
      GROUP BY node)""")
    return (
        """
    WITH pairs AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey + 1000000 AS s FROM lineitem),
    edges AS (SELECT p AS src, s AS dst FROM pairs
              UNION ALL SELECT s AS src, p AS dst FROM pairs),
    f0 AS (SELECT p_partkey AS node, 0 AS hops FROM part WHERE p_size = 50),"""
        + ",".join(steps)
        + f"\nSELECT node, CAST(hops AS INT) AS hops FROM f{max_hops}"
    )


@query("graph_bfs_hops", oracle=_bfs_oracle(_BFS_HOPS))
def graph_bfs_hops(spark, sf):
    """Min-hop BFS labels within 3 hops of a seed set (parts of size 50)
    over the trade graph. Frontier-based (:func:`..operators.graph.
    bfs_hops`): each round joins only the NEWLY discovered nodes against
    the adjacency and anti-joins the visited set — shuffle per round is
    O(frontier), not O(visited), which is what keeps the K-th round from
    re-shuffling the whole reachable set at 100 TB. The oracle unrolls
    the same rounds as full-relaxation min-aggregates (equivalent labels:
    BFS settles every node the first round it appears)."""
    from ..operators.graph import bfs_hops

    seeds = (
        table(spark, sf, "part")
        .filter(F.col("p_size") == 50)
        .select(F.col("p_partkey").alias("node"))
    )
    # K=3 is small and fixed → the unrolled single-job strategy (no
    # per-round driver sync); the frontier loop remains the
    # unbounded-depth path. No scoped_conf here: the unrolled
    # plan is fully LAZY, so a scoped conf would be restored before
    # execution (silent no-op) — the level shuffles are small and AQE
    # coalesces them at runtime instead.
    return bfs_hops(
        _trade_edges(spark, sf), seeds, max_hops=_BFS_HOPS,
        strategy="unrolled",
    )


_KCORE_K = 2
_KCORE_UNROLL = 10

_KCORE_PRELUDE = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cpairs AS MATERIALIZED (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
cedges AS MATERIALIZED (SELECT a AS src, b AS dst FROM cpairs
           UNION ALL SELECT b, a FROM cpairs),
it0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM cedges)"""


def _kcore_oracle(k: int, unroll: int) -> str:
    # AS MATERIALIZED is load-bearing: each round references the previous
    # round's CTE twice (both edge endpoints), so DuckDB's default inlining
    # would re-evaluate the chain 2^unroll times (measured: >120 s vs
    # 0.05 s at sf0.001 for unroll=10).
    steps = []
    for r in range(1, unroll + 1):
        steps.append(f"""
it{r} AS MATERIALIZED (
  SELECT e.src AS node FROM cedges e
  JOIN it{r - 1} a ON a.node = e.src
  JOIN it{r - 1} b ON b.node = e.dst
  GROUP BY e.src HAVING COUNT(*) >= {k})""")
    return (
        _KCORE_PRELUDE + "," + ",".join(steps)
        + f"""
    SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM cedges e
    JOIN it{unroll} a ON a.node = e.src
    JOIN it{unroll} b ON b.node = e.dst
    GROUP BY e.src"""
    )


@query("graph_kcore", oracle=_kcore_oracle(_KCORE_K, _KCORE_UNROLL))
def graph_kcore(spark, sf):
    """k-core decomposition (k=2) of the co-purchase graph (parts sharing
    ≥2 orders — the same thresholded pair pass as ``graph_triangles``):
    iteratively peel ALL nodes with induced degree < k until fixpoint,
    report survivors with their core degree. The 2-core strips every
    tree appendage, leaving only the cyclic trade structure — the
    cohesion filter used for spam/bot subgraph mining. Engine peels with
    driver-synchronized rounds over a CheckpointChain (two semi-joins +
    one aggregate per round, shuffle O(surviving edges)); the oracle
    unrolls 10 simultaneous-removal rounds as chained CTEs — peeling
    converges in ≤4 rounds at the correctness SFs, and extra unrolled
    rounds are exact no-ops at fixpoint, so the margin is free."""
    from ..operators.graph import k_core

    li = table(spark, sf, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
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
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 8):
        # eager by construction: every peeling round localCheckpoints.
        return k_core(edges, k=_KCORE_K)


# ---------------------------------------------------------------------------
# graph_modularity (round 5)
# ---------------------------------------------------------------------------


@query(
    "graph_modularity",
    oracle="""
    WITH tok AS (SELECT doc_id, source,
                        regexp_split_to_array(lower(trim(text)), '\\s+') AS t
                 FROM documents),
    sh AS (SELECT doc_id, source,
                  list_distinct(list_transform(
                    range(1, greatest(len(t) - 2, 1) + 1),
                    i -> array_to_string(t[i:i+2], ' '))) AS s
           FROM tok),
    e AS (
      SELECT a.source AS sa, b.source AS sb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
    m AS (SELECT COUNT(*) AS m FROM e),
    ec AS (SELECT sa AS source, COUNT(*) AS e_c FROM e
           WHERE sa = sb GROUP BY sa),
    dc AS (SELECT source, COUNT(*) AS d_c FROM (
             SELECT sa AS source FROM e UNION ALL SELECT sb FROM e)
           GROUP BY source)
    SELECT d.source,
           CAST(COALESCE(ec.e_c, 0) AS BIGINT) AS intra_edges,
           CAST(d.d_c AS BIGINT) AS degree_sum,
           round(COALESCE(ec.e_c, 0) / CAST(m.m AS DOUBLE)
                 - (d.d_c / (2.0 * m.m)) * (d.d_c / (2.0 * m.m)), 6)
             AS contribution
    FROM dc d LEFT JOIN ec ON ec.source = d.source CROSS JOIN m
    """,
)
def graph_modularity(spark, sf):
    """Newman MODULARITY of the source partition over the verified
    near-duplicate graph — the community-quality audit: does duplication
    concentrate within sources (high contribution) or cross them? Per
    community c: e_c/m − (d_c/2m)² with e_c = intra edges, d_c = degree
    sum, m = |edges|; Q is the sum of contributions.

    Scale shape: the edge list is the session's shared verified pair
    set (LSH-bucketed + Jaccard, never quadratic); community labels
    attach by two id equi-joins to the dimension; everything after is
    hash aggregates on the (tiny) edge list and one broadcast scalar m.
    All counts integer; each contribution is one fixed division chain
    rounded 6."""
    from ..suite import shared_jaccard_pairs

    docs = table(spark, sf, "documents").select("doc_id", "source")
    pairs = shared_jaccard_pairs(spark, sf)
    e = (
        pairs.join(
            docs.select(F.col("doc_id").alias("id_a"),
                        F.col("source").alias("sa")), "id_a")
        .join(
            docs.select(F.col("doc_id").alias("id_b"),
                        F.col("source").alias("sb")), "id_b")
        .select("sa", "sb")
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))
    ec = (
        e.filter(F.col("sa") == F.col("sb"))
        .groupBy(F.col("sa").alias("source"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    dc = (
        e.select(F.col("sa").alias("source"))
        .unionAll(e.select(F.col("sb").alias("source")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    return (
        dc.join(ec, "source", "left")
        .join(F.broadcast(m))
        .select(
            "source",
            F.coalesce("e_c", F.lit(0)).cast("long").alias("intra_edges"),
            F.col("d_c").cast("long").alias("degree_sum"),
            F.round(
                F.coalesce("e_c", F.lit(0)) / F.col("m").cast("double")
                - (F.col("d_c") / (F.lit(2.0) * F.col("m")))
                * (F.col("d_c") / (F.lit(2.0) * F.col("m"))),
                6,
            ).alias("contribution"),
        )
    )
