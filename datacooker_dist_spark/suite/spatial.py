"""Spatial suite entries — the commons JTS/Point record family (SURVEY
§1.2/§1.5) as relational operators over planar coordinates.

Coordinates are synthesized deterministically from integer keys (the
word-soup testdata carries no geometry): multiplicative hashing onto a
1000×1000 planar field held in integer CENTI-units. All geometry up to and
including the radius predicate is 64-bit integer arithmetic — engines may
fuse double multiply-adds differently (FMA), but integers are exact
everywhere. The one double op, sqrt of an identical integer, is correctly
rounded on both engines, so even the returned distance is bit-exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import query, table

# Deterministic planar points: centi-unit integers in [0, 100000).
_XC = "({k} * 7919) % 100000"
_YC = "({k} * 104729) % 100000"


@query(
    "geo_radius_join",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, {_XC.format(k="c_custkey")} AS x,
             {_YC.format(k="c_custkey")} AS y
      FROM customer),
    s AS (
      SELECT s_suppkey, {_XC.format(k="s_suppkey")} AS x,
             {_YC.format(k="s_suppkey")} AS y
      FROM supplier)
    SELECT c.c_custkey, s.s_suppkey,
           sqrt((c.x - s.x) * (c.x - s.x)
                + (c.y - s.y) * (c.y - s.y)) / 100.0 AS dist
    FROM c JOIN s
      ON (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
         <= 6250000
    """,
)
def geo_radius_join(spark, sf):
    """Spatial radius join (customers within 25 planar units of a
    supplier site) via grid-cell bucketing: probe side lands in its exact
    cell, build side explodes to the 3×3 neighborhood, and the exact
    circle test runs on bucket-mates only — a hash equi-join on cell ids,
    never a cross join (plan-asserted). The oracle brute-forces the pair
    space; at engine scale only the linear grid join runs. This is the
    engine's mapping of the reference commons' JTS Point records."""
    from ..operators.spatial import grid_radius_join

    def points(df, key):
        return df.select(
            F.col(key),
            F.expr(_XC.format(k=key)).alias("x"),
            F.expr(_YC.format(k=key)).alias("y"),
        )

    cust = points(table(spark, sf, "customer"), "c_custkey")
    supp = points(table(spark, sf, "supplier"), "s_suppkey")
    joined = grid_radius_join(cust, supp, radius=2500)  # centi-units
    return joined.select(
        F.col("c_custkey"),
        F.col("s_suppkey"),
        (F.col("dist") / 100.0).alias("dist"),
    )


@query(
    "geo_knn_join",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, {_XC.format(k="c_custkey")} AS x,
             {_YC.format(k="c_custkey")} AS y
      FROM customer),
    s AS (
      SELECT s_suppkey, {_XC.format(k="s_suppkey")} AS x,
             {_YC.format(k="s_suppkey")} AS y
      FROM supplier),
    pairs AS (
      SELECT c.c_custkey, s.s_suppkey,
             (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2
      FROM c JOIN s
        ON (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
           <= 25000000),
    ranked AS (
      SELECT c_custkey, s_suppkey, d2,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY d2, s_suppkey) AS rn
      FROM pairs)
    SELECT c_custkey, s_suppkey, CAST(rn AS BIGINT) AS rank,
           sqrt(d2) / 100.0 AS dist
    FROM ranked WHERE rn <= 3
    """,
)
def geo_knn_join(spark, sf):
    """Bounded-radius k-nearest-neighbor join: each customer's 3 closest
    supplier sites within 50 planar units — grid-bucketed candidates (the
    same linear equi-join as geo_radius_join, wider cells) ranked by a
    per-customer window with a total-order tiebreak (distance, then key).
    Bounding the search radius is what keeps kNN scalable: the unbounded
    version degrades to a cross join for isolated points, while real
    pipelines always carry a 'too far is no match' cutoff."""
    from pyspark.sql import Window

    from ..operators.spatial import grid_radius_join

    def points(df, key):
        return df.select(
            F.col(key),
            F.expr(_XC.format(k=key)).alias("x"),
            F.expr(_YC.format(k=key)).alias("y"),
        )

    cust = points(table(spark, sf, "customer"), "c_custkey")
    supp = points(table(spark, sf, "supplier"), "s_suppkey")
    joined = grid_radius_join(cust, supp, radius=5000)  # centi-units
    w = Window.partitionBy("c_custkey").orderBy("dist", "s_suppkey")
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "c_custkey", "s_suppkey", "rank",
            (F.col("dist") / 100.0).alias("dist"),
        )
    )


@query(
    "geo_grid_density",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, c_acctbal, {_XC.format(k="c_custkey")} AS x,
             {_YC.format(k="c_custkey")} AS y
      FROM customer)
    SELECT x // 5000 AS cell_x, y // 5000 AS cell_y,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,2))) AS DOUBLE) AS sum_acctbal
    FROM c GROUP BY 1, 2
    """,
)
def geo_grid_density(spark, sf):
    """Raster aggregation (spatial binning): point density + an exact
    value sum per 50×50-unit grid cell — the heat-map / density-surface
    pass every geospatial pipeline runs before choosing finer analysis.
    ONE narrow projection (integer floor-div cell ids) + one hash
    aggregate; output is bounded by the grid (20×20 cells), independent
    of point count — the constant-size profile of a 100 TB point set.
    Integer cell arithmetic matches the oracle exactly."""
    c = table(spark, sf, "customer")
    cell = 5000
    return (
        c.select(
            F.col("c_acctbal"),
            F.expr(_XC.format(k="c_custkey")).alias("x"),
            F.expr(_YC.format(k="c_custkey")).alias("y"),
        )
        .groupBy(
            F.expr(f"x div {cell}").alias("cell_x"),
            F.expr(f"y div {cell}").alias("cell_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.col("c_acctbal").cast("decimal(25,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
    )


@query(
    "geo_cluster_radius",
    oracle=f"""
    WITH RECURSIVE c AS (
      SELECT c_custkey, {_XC.format(k="c_custkey")} AS x,
             {_YC.format(k="c_custkey")} AS y
      FROM customer),
    pairs AS (
      SELECT a.c_custkey AS s, b.c_custkey AS t
      FROM c a JOIN c b
        ON a.c_custkey < b.c_custkey
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= 6250000),
    edges AS (SELECT s, t FROM pairs UNION SELECT t, s FROM pairs),
    reach AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
      WHERE e.t <> r.s),
    labels AS (SELECT s AS id, LEAST(s, MIN(t)) AS cluster_id
               FROM reach GROUP BY s)
    SELECT c.c_custkey,
           COALESCE(l.cluster_id, c.c_custkey) AS cluster_id
    FROM c LEFT JOIN labels l ON l.id = c.c_custkey
    """,
)
def geo_cluster_radius(spark, sf):
    """Single-linkage spatial clustering (DBSCAN with minPts=2, all
    points core): customer sites within 25 planar units chain into one
    cluster. Pairs come from the grid-bucketed radius SELF-join (linear
    equi-join on cells, never all-pairs), components from the SAME
    min-label-propagation operator the dedup families use — one CC
    implementation serving text, embedding, and now spatial modalities.
    Isolated points keep their own id as cluster_id (left join +
    coalesce). The oracle brute-forces the pair space and closes it with
    a recursive CTE; integer-exact geometry keeps both engines
    bit-identical."""
    from ..operators.dedup import connected_components
    from ..operators.spatial import grid_radius_join

    pts = table(spark, sf, "customer").select(
        "c_custkey",
        F.expr(_XC.format(k="c_custkey")).alias("x"),
        F.expr(_YC.format(k="c_custkey")).alias("y"),
    )
    right = (
        pts.withColumnRenamed("c_custkey", "b_key")
    )
    pairs = (
        grid_radius_join(pts, right, radius=2500)
        .filter(F.col("c_custkey") < F.col("b_key"))
        .select(F.col("c_custkey").alias("id_a"), F.col("b_key").alias("id_b"))
    )
    labels = connected_components(pairs, parts=4)
    return (
        pts.join(
            labels.withColumnRenamed("id_a", "c_custkey"),
            "c_custkey",
            "left",
        )
        .select(
            "c_custkey",
            F.coalesce("cluster_id", "c_custkey").alias("cluster_id"),
        )
    )


# ---------------------------------------------------------------------------
# geo_track_segments (round 8)
# ---------------------------------------------------------------------------
#
# Track segmentation — the core operator of the reference's broader
# ecosystem (datacooker's ETL sibling is a GPS-track analytics engine;
# SURVEY §1.2's Point/track record family): an ordered point stream per
# user splits into segments at dwell gaps (> 12 h) and teleports
# (planar step > 50 units), then each segment rolls up to point count,
# duration, and path length. Positions are a deterministic integer
# random walk per user (centi-unit steps synthesized from event_id;
# every 11th step is a planted ±100-unit teleport), so the step
# geometry — and therefore the split decisions — is 64-bit-integer
# exact; the ONE double op per step (sqrt, then /100.0 and a 6-digit
# round in identical order) is correctly rounded on both engines, and
# path lengths accumulate through the decimal-exact dsum so partition
# order can't perturb the sum.

_TRK_GAP_US = 43_200_000_000    # 12 h dwell gap, microseconds
_TRK_TELEPORT_SQ = 25_000_000   # (50 units)² in centi-units²


@query(
    "geo_track_segments",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN event_id % 11 = 0
                  THEN (event_id * 7919) % 20001 - 10000
                  ELSE (event_id * 7919) % 201 - 100 END AS dx,
             CASE WHEN event_id % 11 = 0
                  THEN (event_id * 104729) % 20001 - 10000
                  ELSE (event_id * 104729) % 201 - 100 END AS dy
      FROM events),
    w AS (
      SELECT *, CASE
          WHEN LAG(us) OVER win IS NULL THEN 1
          WHEN us - LAG(us) OVER win > {_TRK_GAP_US} THEN 1
          WHEN dx * dx + dy * dy > {_TRK_TELEPORT_SQ} THEN 1
          ELSE 0 END AS ns
      FROM e
      WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (
      SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS seg
      FROM w)
    SELECT user_id, CAST(seg AS BIGINT) AS segment_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS duration_s,
           CAST(SUM(CAST(CASE WHEN ns = 1 THEN 0
                ELSE round(sqrt(dx * dx + dy * dy) / 100.0, 6) END
                AS DECIMAL(25,6))) AS DOUBLE) AS path_len
    FROM s GROUP BY 1, 2
    """,
)
def geo_track_segments(spark, sf):
    """Segment per-user point tracks at dwell gaps and teleports, then
    roll each segment up to (n_points, duration_s, path_len) — the
    trajectory primitive under trip detection, stay-point mining, and
    odometer features. Plan: ONE shuffle on user_id serves the lag, the
    running segment counter, and (key-prefix) the rollup; step geometry
    never leaves the row (dx/dy are per-row expressions), and the first
    point of each segment contributes zero path (the step that CAUSED
    the split — a gap or teleport — belongs to no segment). EXACT-
    oracled including the double path sums (decimal-exact dsum).
    At 100 TB tracks shard perfectly by user; no operator here sees
    more than one user's points in order."""
    from . import read_events
    from ..functions.scalars import dsum
    from pyspark.sql import Window

    e = read_events(spark, sf).select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.when(F.col("event_id") % 11 == 0,
               (F.col("event_id") * 7919) % 20001 - 10000)
        .otherwise((F.col("event_id") * 7919) % 201 - 100).alias("dx"),
        F.when(F.col("event_id") % 11 == 0,
               (F.col("event_id") * 104729) % 20001 - 10000)
        .otherwise((F.col("event_id") * 104729) % 201 - 100).alias("dy"),
    )
    win = Window.partitionBy("user_id").orderBy("us", "event_id")
    step2 = F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")
    ns = (
        F.when(F.lag("us").over(win).isNull(), 1)
        .when(F.col("us") - F.lag("us").over(win) > _TRK_GAP_US, 1)
        .when(step2 > _TRK_TELEPORT_SQ, 1)
        .otherwise(0)
    )
    s = e.withColumn("ns", ns).withColumn(
        "seg",
        F.sum("ns").over(win.rowsBetween(Window.unboundedPreceding, 0)),
    )
    step_len = F.when(F.col("ns") == 1, F.lit(0.0)).otherwise(
        F.round(F.sqrt(step2.cast("double")) / 100.0, 6)
    )
    return (
        s.groupBy("user_id", F.col("seg").cast("long").alias("segment_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            ((F.max("us") - F.min("us")) / 1000000).cast("long")
            .alias("duration_s"),
            dsum(step_len, scale=6).alias("path_len"),
        )
    )


# ---------------------------------------------------------------------------
# geo_polygon_join (round 9)
# ---------------------------------------------------------------------------
#
# Point-in-polygon containment join (VERDICT r08 task 6) — the
# region-assignment join the JTS record family (SURVEY §1.2/§1.5) implies
# but the suite's point operators (radius/knn/grid/cluster/tracks) never
# covered. Polygon fixtures are deterministic STAR-SHAPED integer-vertex
# octagons: center c_p = ((p·37199) % 80000 + 10000,
# (p·63839) % 80000 + 10000), vertex k at the k-th compass direction
# scaled by r_{p,k} = 8000 + ((p·31 + k·17) % 8)·1000 — positive radii at
# strictly increasing angles, so every polygon is simple by construction.
# Containment is the PNPOLY ray cast re-spelled as pure integer column
# algebra: edge (x1,y1)→(x2,y2) crosses the +x ray from (px,py) iff
# (y1 > py) ≠ (y2 > py) AND sign((x2−x1)(py−y1) − (px−x1)(y2−y1)) matches
# sign(y2−y1); odd crossing count = inside. Both engines evaluate the
# identical int64 products (≤ ~4e10, no overflow, no division), so the
# oracle is exact.

_PIP_N = 8
_PIP_CELL = 5000
_PIP_DX = [1, 1, 0, -1, -1, -1, 0, 1]
_PIP_DY = [0, 1, 1, 1, 0, -1, -1, -1]


def _pip_vertices():
    """The 64 polygon vertices, derived in Python with the SAME integer
    arithmetic the oracle interpolates — (pid, k, vx, vy)."""
    out = []
    for p in range(_PIP_N):
        cx = (p * 37199) % 80000 + 10000
        cy = (p * 63839) % 80000 + 10000
        for k in range(_PIP_N):
            r = 8000 + ((p * 31 + k * 17) % 8) * 1000
            out.append((p, k, cx + _PIP_DX[k] * r, cy + _PIP_DY[k] * r))
    return out


_PIP_DIRS_SQL = "VALUES " + ", ".join(
    f"({k}, {_PIP_DX[k]}, {_PIP_DY[k]})" for k in range(_PIP_N)
)

_PIP_CROSS_SQL = """
    ((y1 > py) <> (y2 > py))
    AND (((y2 > y1) AND ((x2 - x1) * (py - y1) - (px - x1) * (y2 - y1) > 0))
      OR ((y2 < y1) AND ((x2 - x1) * (py - y1) - (px - x1) * (y2 - y1) < 0)))
"""


@query(
    "geo_polygon_join",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey, {_XC.format(k="c_custkey")} AS px,
             {_YC.format(k="c_custkey")} AS py
      FROM customer),
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
      SELECT c_custkey, pid,
             SUM(CASE WHEN {_PIP_CROSS_SQL} THEN 1 ELSE 0 END) AS nc
      FROM pts, edges GROUP BY 1, 2)
    SELECT CAST(pid AS BIGINT) AS polygon_id, c_custkey
    FROM crossings WHERE nc % 2 = 1
    """,
)
def geo_polygon_join(spark, sf):
    """Point-in-polygon containment join (module comment above): assign
    each customer point to every fixture polygon containing it. Plan —
    the 100 TB shape: polygons are a DIMENSION (vertices and the
    bbox-cell cover derived driver-side from the 64-row fixture, a few
    hundred rows total); points land in their exact grid cell and
    equi-join the BROADCAST polygon-cell cover (candidate pruning — a
    point only ever tests polygons whose bbox overlaps its cell, never
    a cross join); candidates broadcast-join the 8 edges of their
    polygon and one partial-aggregated crossing count per (point,
    polygon) decides containment. Work is O(points + candidates·edges);
    the corpus never shuffles on anything but its own grid cell. The
    oracle brute-forces every point × every edge and replays the
    identical int64 ray-cast — equality proves both the geometry AND
    that the grid cover loses no candidate (bbox-complete by
    construction: a contained point's own cell always intersects the
    polygon's bbox)."""
    pts = table(spark, sf, "customer").select(
        "c_custkey",
        F.expr(_XC.format(k="c_custkey")).alias("px"),
        F.expr(_YC.format(k="c_custkey")).alias("py"),
    )
    return polygon_contains(spark, pts, "c_custkey").select(
        "polygon_id", "c_custkey"
    )


def polygon_contains(spark, pts, key_col):
    """The containment join itself, shared by ``geo_polygon_join`` and
    the streaming geofence twin: ``pts`` is (key_col, px, py) integer
    centi-units; returns (polygon_id, key_col) for every fixture
    polygon containing the point. Grid-bucketed candidates over the
    broadcast bbox-cell cover, broadcast edge join, one
    partial-aggregated integer ray-cast crossing count."""
    pts = pts.withColumn(
        "cell_x", F.expr(f"px div {_PIP_CELL}")
    ).withColumn(
        "cell_y", F.expr(f"py div {_PIP_CELL}")
    )
    verts = _pip_vertices()
    edges = [
        (p, verts[p * _PIP_N + k][2], verts[p * _PIP_N + k][3],
         verts[p * _PIP_N + (k + 1) % _PIP_N][2],
         verts[p * _PIP_N + (k + 1) % _PIP_N][3])
        for p in range(_PIP_N) for k in range(_PIP_N)
    ]
    cells = []
    for p in range(_PIP_N):
        vs = verts[p * _PIP_N:(p + 1) * _PIP_N]
        xs, ys = [v[2] for v in vs], [v[3] for v in vs]
        for gx in range(min(xs) // _PIP_CELL, max(xs) // _PIP_CELL + 1):
            for gy in range(min(ys) // _PIP_CELL, max(ys) // _PIP_CELL + 1):
                cells.append((p, gx, gy))
    edges_df = spark.createDataFrame(
        edges, "pid long, x1 long, y1 long, x2 long, y2 long"
    )
    cells_df = spark.createDataFrame(
        cells, "pid long, cell_x long, cell_y long"
    )
    cand = pts.join(F.broadcast(cells_df), ["cell_x", "cell_y"])
    crossing = F.expr(_PIP_CROSS_SQL.replace("<>", "!="))
    return (
        cand.join(F.broadcast(edges_df), "pid")
        .groupBy(key_col, "pid")
        .agg(F.sum(F.when(crossing, 1).otherwise(0)).alias("nc"))
        .filter(F.col("nc") % 2 == 1)
        .select(F.col("pid").alias("polygon_id"), key_col)
    )
