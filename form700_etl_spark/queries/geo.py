"""Geospatial operators: adaptive grid-bucketed nearest-neighbor
search with haversine verification.

The reference (Form700.py) has no spatial surface; this extends the
engine with the standard large-scale pattern for proximity joins:
**grid-cell blocking** — assign each point to a lat/lon cell at least
as wide as the search radius, probe the 3x3 cell neighborhood, and
verify candidates with the exact haversine distance.  By the pigeonhole
argument, every pair within the radius shares the 3x3 neighborhood, so
blocking is complete and the candidate join is an ordinary hash shuffle
on the cell key, never a cross join.

A single-resolution grid sized to the search radius degrades as point
DENSITY grows: candidate pairs scale as N * rho * r^2, so a 10x-denser
corpus costs 100x (measured: 53.9x wall for 10x density in the first
cut — SCALE.md).  The fix is the classic **adaptive two-phase grid**:
a fine pass (1 km cells) first — any point with >= 3 verified
neighbors within 1 km already has its exact global top-3 (nothing
outside 1 km can displace them), and at high density that is almost
every point at ~1/16 the candidate cost; only unsatisfied points
escalate to the full-radius coarse pass, whose probe side shrinks to
the sparse residue.  Per-point work is min(fine-neighborhood
population, coarse-neighborhood population) + o(1) — bounded by the
RESOLUTION MATCHED to local density, not by corpus growth.  Both
phases are exact; the escalation rule is deterministic, so the result
is identical to the single-phase join and the DuckDB oracle mirrors
the whole two-phase structure verbatim.

Fixture coordinates derive deterministically from md5(c_custkey) — the
same hash-ring trick every split/sample operator uses — placing
customers in a 2-degree x 2-degree box so the fixture has realistic
neighbor structure.  Distance ranking happens on identical doubles in
both engines with a key tie-break.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io import materialize, table
from ..registry import register

# Search radius and grid sizes.  Cell edges must be >= the phase
# radius in both axes for 3x3-neighborhood completeness:
# coarse 0.05 deg = 5.55 km lat / ~4.3 km lon at 37-39N  >= 4 km;
# fine 0.0125 deg = 1.39 km lat / ~1.08 km lon            >= 1 km.
_RADIUS_KM = 4.0
_CELL_DEG = 0.05
_FINE_KM = 1.0
_FINE_DEG = 0.0125
_TOP_K = 3
_EARTH_R_KM = 6371.0

_COORD_SQL = """
        SELECT c_custkey,
               37.0 + (('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
                       % 200000) / 100000.0 AS lat,
               -122.0 + (('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8))::BIGINT
                         % 200000) / 100000.0 AS lon
        FROM customer
"""

_HAVERSINE_SQL = """2 * {r} * asin(sqrt(
                   pow(sin(radians(b.lat - p.lat) / 2), 2)
                   + cos(radians(p.lat)) * cos(radians(b.lat))
                     * pow(sin(radians(b.lon - p.lon) / 2), 2)))"""


@register(
    "geo_knn_grid_join",
    oracle=f"""
    WITH pts AS ({_COORD_SQL}),
    celled AS (
        SELECT c_custkey, lat, lon,
               CAST(floor(lat / {_CELL_DEG}) AS BIGINT) AS cx,
               CAST(floor(lon / {_CELL_DEG}) AS BIGINT) AS cy,
               CAST(floor(lat / {_FINE_DEG}) AS BIGINT) AS fx,
               CAST(floor(lon / {_FINE_DEG}) AS BIGINT) AS fy
        FROM pts
    ),
    offsets AS (SELECT dx.d AS dx, dy.d AS dy
                FROM (VALUES (-1), (0), (1)) AS dx(d)
                CROSS JOIN (VALUES (-1), (0), (1)) AS dy(d)),
    -- phase 1: fine 1 km pass over every point
    fine_cands AS (
        SELECT p.c_custkey, b.c_custkey AS neighbor_key,
               {_HAVERSINE_SQL.format(r=_EARTH_R_KM)} AS d_km
        FROM (SELECT c.*, c.fx + o.dx AS px, c.fy + o.dy AS py
              FROM celled c CROSS JOIN offsets o) p
        JOIN celled b ON p.px = b.fx AND p.py = b.fy
        WHERE p.c_custkey <> b.c_custkey
    ),
    fine_ranked AS (
        SELECT c_custkey, neighbor_key, d_km,
               ROW_NUMBER() OVER (PARTITION BY c_custkey
                                  ORDER BY d_km, neighbor_key) AS rank,
               COUNT(*) OVER (PARTITION BY c_custkey) AS cnt
        FROM fine_cands WHERE d_km <= {_FINE_KM}
    ),
    satisfied AS (SELECT DISTINCT c_custkey FROM fine_ranked
                  WHERE cnt >= {_TOP_K}),
    fine_top AS (
        SELECT c_custkey, neighbor_key, rank, d_km
        FROM fine_ranked WHERE cnt >= {_TOP_K} AND rank <= {_TOP_K}
    ),
    -- phase 2: full-radius coarse pass, probe side = unsatisfied only
    coarse_cands AS (
        SELECT p.c_custkey, b.c_custkey AS neighbor_key,
               {_HAVERSINE_SQL.format(r=_EARTH_R_KM)} AS d_km
        FROM (SELECT e.*, e.cx + o.dx AS px, e.cy + o.dy AS py
              FROM (SELECT c.* FROM celled c
                    ANTI JOIN satisfied s ON c.c_custkey = s.c_custkey) e
              CROSS JOIN offsets o) p
        JOIN celled b ON p.px = b.cx AND p.py = b.cy
        WHERE p.c_custkey <> b.c_custkey
    ),
    coarse_top AS (
        SELECT c_custkey, neighbor_key, rank, d_km
        FROM (SELECT c_custkey, neighbor_key, d_km,
                     ROW_NUMBER() OVER (PARTITION BY c_custkey
                                        ORDER BY d_km, neighbor_key) AS rank
              FROM coarse_cands WHERE d_km <= {_RADIUS_KM})
        WHERE rank <= {_TOP_K}
    )
    SELECT c_custkey, neighbor_key, CAST(rank AS BIGINT) AS rank,
           round(d_km, 3) AS dist_km
    FROM (SELECT * FROM fine_top UNION ALL SELECT * FROM coarse_top)
    ORDER BY c_custkey, rank
    """,
    tags=("geo", "join", "scale"),
    doc=(
        "Top-3 nearest neighbors within 4 km per customer, via an "
        "ADAPTIVE two-phase grid + exact haversine verify: a fine 1 km "
        "pass (0.0125-degree cells, 3x3 probe neighborhood pigeonhole-"
        "complete) settles every point with >= 3 verified sub-1 km "
        "neighbors — their global top-3 provably lies inside 1 km — "
        "and only the sparse residue escalates to the 4 km coarse "
        "pass.  Candidates always come from hash joins on cell keys "
        "(constant 9x probe fan-out, never a cross join); per-point "
        "cost tracks LOCAL density at the matched resolution instead "
        "of growing with corpus density (the single-grid version "
        "measured 53.9x wall for 10x density; see SCALE.md).  Output "
        "is <= 3N rows; ranking runs on identical doubles with a key "
        "tie-break, and the escalation rule is deterministic, so the "
        "two-phase result is exactly the single-phase answer."
    ),
)
def geo_knn_grid_join(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    pts = c.select(
        "c_custkey",
        (37.0 + F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 200000 / 100000.0)
        .alias("lat"),
        (-122.0 + F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 200000 / 100000.0)
        .alias("lon"),
    )
    celled = materialize(
        pts.select(
            "c_custkey",
            "lat",
            "lon",
            F.floor(F.col("lat") / _CELL_DEG).alias("cx"),
            F.floor(F.col("lon") / _CELL_DEG).alias("cy"),
            F.floor(F.col("lat") / _FINE_DEG).alias("fx"),
            F.floor(F.col("lon") / _FINE_DEG).alias("fy"),
        ),
        "geo_knn_grid_join celled points: both passes, both join sides",
    )

    def probe9(df, kx, ky):
        offs = F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)]))
        return (
            df.select("*", offs.alias("dx"))
            .select("*", offs.alias("dy"))
            .select(
                "c_custkey",
                "lat",
                "lon",
                (F.col(kx) + F.col("dx")).alias("px"),
                (F.col(ky) + F.col("dy")).alias("py"),
            )
        )

    def haversine():
        return (
            2.0
            * _EARTH_R_KM
            * F.asin(
                F.sqrt(
                    F.pow(F.sin(F.radians(F.col("blat") - F.col("lat")) / 2), 2)
                    + F.cos(F.radians("lat"))
                    * F.cos(F.radians("blat"))
                    * F.pow(F.sin(F.radians(F.col("blon") - F.col("lon")) / 2), 2)
                )
            )
        )

    def cands(probe_df, kx, ky):
        b = celled.select(
            F.col("c_custkey").alias("neighbor_key"),
            F.col("lat").alias("blat"),
            F.col("lon").alias("blon"),
            F.col(kx).alias("bx"),
            F.col(ky).alias("by"),
        )
        p = probe9(probe_df, kx, ky)
        return (
            p.join(b, (p.px == b.bx) & (p.py == b.by))
            .filter(F.col("c_custkey") != F.col("neighbor_key"))
            .select("c_custkey", "neighbor_key", haversine().alias("d_km"))
        )

    wp = W.partitionBy("c_custkey")
    # phase 1: fine 1 km pass over every point.  The ranked sub-1 km
    # pair set IS the phase-1 result.
    fine_ranked = materialize(
        cands(celled, "fx", "fy")
        .filter(F.col("d_km") <= _FINE_KM)
        .select(
            "c_custkey",
            "neighbor_key",
            "d_km",
            F.row_number().over(wp.orderBy("d_km", "neighbor_key")).alias("rank"),
            F.count(F.lit(1))
            .over(wp.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
            .alias("cnt"),
        ),
        "geo_knn_grid_join fine ranks: top-3 and satisfied-set branches",
    )
    fine_top = fine_ranked.filter(
        (F.col("cnt") >= _TOP_K) & (F.col("rank") <= _TOP_K)
    ).select("c_custkey", "neighbor_key", "rank", "d_km")
    satisfied = (
        fine_ranked.filter(F.col("cnt") >= _TOP_K).select("c_custkey").distinct()
    )
    # phase 2: full-radius coarse pass, probe side = unsatisfied only
    escalated = celled.join(satisfied, "c_custkey", "left_anti")
    coarse_top = (
        cands(escalated, "cx", "cy")
        .filter(F.col("d_km") <= _RADIUS_KM)
        .select(
            "c_custkey",
            "neighbor_key",
            "d_km",
            F.row_number().over(wp.orderBy("d_km", "neighbor_key")).alias("rank"),
        )
        .filter(F.col("rank") <= _TOP_K)
        .select("c_custkey", "neighbor_key", "rank", "d_km")
    )
    return (
        fine_top.unionAll(coarse_top)
        .select(
            "c_custkey",
            "neighbor_key",
            F.col("rank").cast("long").alias("rank"),
            F.round("d_km", 3).alias("dist_km"),
        )
        .orderBy("c_custkey", "rank")
    )


_MIN_PTS = 4  # DBSCAN minPts, |N_eps(p)| counting p itself

# Core-graph CC rounds for the oracle's layered min-label propagation.
# The convergence guarantee rests on the POINTER-JUMP step: each round
# halves the remaining label-tree depth, so 72 doubling rounds converge
# any component of hop diameter up to ~2^72 — every feasible graph.
# (Box-diagonal/eps ~ 71 is only a LOWER bound on hops between the
# farthest points; a snake-shaped eps-component can exceed it, so pure
# min-label propagation alone would not be safely bounded by it.)
# Measured convergence: 1 round at sf0.001, 6 at sf0.01, 34 at sf0.1,
# 30 at 10x density.  If rounds were ever insufficient the mismatch is
# LOUD (the engine runs exact union-find CC), never silent.
_DBSCAN_CC_ROUNDS = 72


def _dbscan_cc_layers() -> tuple[str, str]:
    """Layered min-label + pointer-jump connected components over the
    ``core_edges`` CTE, seeded from ``core``.  Returns (sql, last_name).

    Replaces the r<=10 RECURSIVE transitive-closure walk, which
    enumerated every (node, reachable-seed) pair — O(sum of component
    size^2) rows.  At sf0.1 density EVERY point is core and one
    component spans the box, so the walk was ~200M pairs times ~70
    semi-naive rounds and never finished; these layers keep O(n) label
    state per round (measured: 34 rounds, ~1 s at sf0.1)."""
    parts = ["cc0 AS MATERIALIZED (SELECT c_custkey AS doc, c_custkey AS label FROM core)"]
    for r in range(1, _DBSCAN_CC_ROUNDS + 1):
        parts.append(f"""
    p{r} AS MATERIALIZED (
        SELECT doc, MIN(label) AS label FROM (
            SELECT doc, label FROM cc{r - 1}
            UNION ALL
            SELECT e.a AS doc, l.label FROM core_edges e JOIN cc{r - 1} l ON l.doc = e.b
        ) GROUP BY doc
    ),
    cc{r} AS MATERIALIZED (
        SELECT p1.doc, p2.label FROM p{r} p1 JOIN p{r} p2 ON p2.doc = p1.label
    )""")
    return ",\n".join(parts), f"cc{_DBSCAN_CC_ROUNDS}"


def _dbscan_oracle() -> str:
    cc_sql, cc_last = _dbscan_cc_layers()
    return f"""
    WITH pts AS ({_COORD_SQL}),
    celled AS (
        SELECT c_custkey, lat, lon,
               CAST(floor(lat / {_CELL_DEG}) AS BIGINT) AS cx,
               CAST(floor(lon / {_CELL_DEG}) AS BIGINT) AS cy
        FROM pts
    ),
    offsets AS (SELECT dx.d AS dx, dy.d AS dy
                FROM (VALUES (-1), (0), (1)) AS dx(d)
                CROSS JOIN (VALUES (-1), (0), (1)) AS dy(d)),
    cand AS (
        SELECT p.c_custkey, b.c_custkey AS nbr_key,
               {_HAVERSINE_SQL.format(r=_EARTH_R_KM)} AS d_km
        FROM (SELECT c.*, c.cx + o.dx AS px, c.cy + o.dy AS py
              FROM celled c CROSS JOIN offsets o) p
        JOIN celled b ON p.px = b.cx AND p.py = b.cy
        WHERE p.c_custkey <> b.c_custkey
    ),
    nbr AS MATERIALIZED (
        SELECT c_custkey, nbr_key FROM cand WHERE d_km <= {_RADIUS_KM}
    ),
    core AS MATERIALIZED (
        SELECT c_custkey FROM nbr GROUP BY c_custkey
        HAVING COUNT(*) + 1 >= {_MIN_PTS}
    ),
    core_edges AS MATERIALIZED (
        SELECT n.c_custkey AS a, n.nbr_key AS b
        FROM nbr n
        JOIN core c1 ON n.c_custkey = c1.c_custkey
        JOIN core c2 ON n.nbr_key = c2.c_custkey
    ),
    {cc_sql},
    core_labels AS (
        SELECT doc AS c_custkey, label AS cluster_id FROM {cc_last}
    ),
    border AS (
        SELECT n.c_custkey, MIN(l.cluster_id) AS cluster_id
        FROM nbr n
        JOIN core_labels l ON n.nbr_key = l.c_custkey
        WHERE n.c_custkey NOT IN (SELECT c_custkey FROM core)
        GROUP BY n.c_custkey
    )
    SELECT p.c_custkey,
           CASE WHEN cl.c_custkey IS NOT NULL THEN 'core'
                WHEN bo.c_custkey IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(cl.cluster_id, bo.cluster_id) AS BIGINT)
             AS cluster_id
    FROM pts p
    LEFT JOIN core_labels cl ON cl.c_custkey = p.c_custkey
    LEFT JOIN border bo ON bo.c_custkey = p.c_custkey
    ORDER BY p.c_custkey
    """


@register(
    "geo_dbscan_clusters",
    oracle=_dbscan_oracle(),
    tags=("geo", "graph", "scale"),
    doc=(
        "Grid-blocked DBSCAN (Ester et al. 1996) over the hash-derived "
        "customer coordinates: eps = 4 km, minPts = 4.  Density-join "
        "candidates come from the same 0.05-degree cell 3x3 probe as "
        "geo_knn_grid_join (pigeonhole-complete at eps, hash join on "
        "cell keys — never a cross join), exact haversine verifies, "
        "core points fall out of one neighbor-count agg, clusters are "
        "connected components over the CORE-CORE edge graph (the "
        "operators/dedup.py hybrid: driver union-find on the pruned "
        "residue, Pregel min-label beyond 1M edges), and border points "
        "deterministically take the MIN cluster label among their core "
        "neighbors (plain DBSCAN leaves border assignment order-"
        "dependent; min-label makes it replayable).  Output is every "
        "point classified core/border/noise with its cluster id — the "
        "spatial-clustering workhorse for location dedup and POI "
        "extraction at corpus scale.  The oracle's CC is layered "
        "min-label + pointer-jump (see _dbscan_cc_layers): the previous "
        "RECURSIVE transitive closure was O(sum component_size^2) and "
        "infeasible at sf0.1, where one eps-component spans the box."
    ),
)
def geo_dbscan_clusters(spark, sf_dir):
    from ..operators.dedup import connected_components

    c = table(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    pts = c.select(
        "c_custkey",
        (37.0 + F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 200000 / 100000.0)
        .alias("lat"),
        (-122.0 + F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 200000 / 100000.0)
        .alias("lon"),
    )
    # GriDBSCAN-style density shortcut: a FINE cell (0.0125 deg, diag
    # <= 1.78 km < eps) holding >= minPts points is entirely core (all
    # its points are mutual eps-neighbors), and the whole cell
    # contracts to ONE supernode (id = min custkey inside) for the
    # component pass.  eps-pair candidates are then only ever STREAMED
    # through aggregations — neighbor counts for sparse points,
    # DISTINCT supernode edges for clustering — never materialized:
    # the first cut checkpointed the raw N*rho pair list and fell over
    # at 10x density (SCALE.md).  Labels are provably identical to the
    # point-level graph: intra-cell edges are implied by the diag
    # bound, cross-cell supernode edges exist iff some core-core point
    # pair within eps crosses the cells.
    celled = materialize(
        pts.select(
            "c_custkey",
            "lat",
            "lon",
            F.floor(F.col("lat") / _CELL_DEG).alias("cx"),
            F.floor(F.col("lon") / _CELL_DEG).alias("cy"),
            F.floor(F.col("lat") / _FINE_DEG).alias("fx"),
            F.floor(F.col("lon") / _FINE_DEG).alias("fy"),
        ),
        "geo_dbscan_clusters celled points: every phase",
    )
    cell_stats = (
        celled.groupBy("fx", "fy")
        .agg(
            F.count(F.lit(1)).alias("cell_n"),
            F.min("c_custkey").alias("cell_node"),
        )
    )
    flagged = materialize(
        celled.join(cell_stats, ["fx", "fy"]).select(
            "c_custkey",
            "lat",
            "lon",
            "cx",
            "cy",
            "cell_node",
            (F.col("cell_n") >= _MIN_PTS).alias("is_dense"),
        ),
        "geo_dbscan_clusters flagged points: probe, build and border phases",
    )

    offs = F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)]))

    def probe9(df):
        return (
            df.select("*", offs.alias("dx"))
            .select("*", offs.alias("dy"))
            .select(
                F.col("c_custkey").alias("a_key"),
                F.col("lat").alias("alat"),
                F.col("lon").alias("alon"),
                F.col("cell_node").alias("a_cell"),
                F.col("is_dense").alias("a_dense"),
                (F.col("cx") + F.col("dx")).alias("px"),
                (F.col("cy") + F.col("dy")).alias("py"),
            )
        )

    build = flagged.select(
        F.col("c_custkey").alias("b_key"),
        F.col("lat").alias("blat"),
        F.col("lon").alias("blon"),
        F.col("cell_node").alias("b_cell"),
        F.col("is_dense").alias("b_dense"),
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
    )
    d_km = (
        2.0
        * _EARTH_R_KM
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("blat") - F.col("alat")) / 2), 2)
                + F.cos(F.radians("alat"))
                * F.cos(F.radians("blat"))
                * F.pow(F.sin(F.radians(F.col("blon") - F.col("alon")) / 2), 2)
            )
        )
    )

    def eps_pairs(probe_df):
        p = probe9(probe_df)
        return (
            p.join(build, (p.px == build.bx) & (p.py == build.by))
            .filter(F.col("a_key") != F.col("b_key"))
            .filter(d_km <= _RADIUS_KM)
        )

    sparse = flagged.filter(~F.col("is_dense"))
    # neighbor counts ONLY for sparse points (dense-cell points are
    # core by the diag bound); the pair stream collapses in the agg
    sparse_counts = (
        eps_pairs(sparse)
        .groupBy("a_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    core_sparse = materialize(
        sparse.join(
            sparse_counts, sparse.c_custkey == sparse_counts.a_key, "left"
        )
        .filter(F.coalesce(F.col("cnt"), F.lit(0)) + 1 >= _MIN_PTS)
        .select("c_custkey", "lat", "lon", "cx", "cy", "cell_node", "is_dense"),
        "geo_dbscan_clusters core points: edges, labels and classify",
    )
    # supernode ids: dense point -> its cell's min custkey; sparse core
    # -> own key.  Core-core eps pairs collapse to DISTINCT node edges
    # before the component pass.
    core_probe = flagged.filter(F.col("is_dense")).unionByName(core_sparse)
    node_a = F.when(F.col("a_dense"), F.col("a_cell")).otherwise(F.col("a_key"))
    node_b = F.when(F.col("b_dense"), F.col("b_cell")).otherwise(F.col("b_key"))
    core_keys = core_probe.select(F.col("c_custkey").alias("b_key"))
    edges = (
        eps_pairs(core_probe)
        .join(core_keys, "b_key", "left_semi")  # right endpoint core too
        .select(node_a.alias("doc1"), node_b.alias("doc2"))
        .filter(F.col("doc1") != F.col("doc2"))
        .distinct()
    )
    comp = connected_components(edges)
    node_labels = materialize(
        core_probe.select(
            F.when(F.col("is_dense"), F.col("cell_node"))
            .otherwise(F.col("c_custkey"))
            .alias("node"),
            "c_custkey",
        )
        .join(comp, F.col("node") == comp.doc_id, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("component_id"), F.col("node")).alias("cluster_id"),
        ),
        "geo_dbscan_clusters core labels: border join and final classify",
    )
    # border: sparse non-core points take the MIN cluster label among
    # their core eps-neighbors (deterministic assignment)
    noncore = sparse.join(
        core_sparse.select("c_custkey"), "c_custkey", "left_anti"
    )
    border = (
        eps_pairs(noncore)
        .join(
            node_labels.select(
                F.col("c_custkey").alias("b_key"), F.col("cluster_id")
            ),
            "b_key",
        )
        .groupBy(F.col("a_key").alias("c_custkey"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return (
        pts.join(
            node_labels.select("c_custkey", F.col("cluster_id").alias("core_cl")),
            "c_custkey",
            "left",
        )
        .join(
            border.select("c_custkey", F.col("cluster_id").alias("bord_cl")),
            "c_custkey",
            "left",
        )
        .select(
            "c_custkey",
            F.when(F.col("core_cl").isNotNull(), "core")
            .when(F.col("bord_cl").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce(F.col("core_cl"), F.col("bord_cl"))
            .cast("long")
            .alias("cluster_id"),
        )
        .orderBy("c_custkey")
    )
