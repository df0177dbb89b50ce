"""Distributed grid DBSCAN — density clustering over point sets.

Beyond-reference spatial analytics (GeoMesa users run exactly this shape
through geomesa-spark; the reference library itself stops at predicates/
joins). Classic DBSCAN (Ester et al., KDD'96) re-expressed as DataFrame
ops so every step is a bounded number of shuffles:

1. **Neighbor pairs** via the same cell=eps grid trick as
   `spatial_join.py:163` (spatial_knn_join): with cell size = eps, all
   eps-neighbors of a point sit in its 3x3 cell neighborhood, so ONE
   equi-join on cell id finds every candidate pair; the shuffle carries
   (cell, id, x, y) rows only. Exact refine: dx*dx+dy*dy <= eps*eps in
   IEEE doubles (engine-independent arithmetic -> oracle-replayable).
2. **Core points**: neighborhood count (self included, the standard
   definition) >= min_pts — one map-side-combined groupBy.
3. **Cluster labels**: hash-min connected components over *core-core*
   edges (`dedup.duplicate_clusters`) — O(cluster diameter) rounds, one
   shuffle per round, localCheckpoint lineage cuts; label = min core id
   in the cluster (deterministic).
4. **Border points**: non-core with >= 1 core neighbor join the minimum
   cluster label among their core neighbors (deterministic tie-break;
   plain DBSCAN leaves border assignment order-dependent — the min rule
   makes it reproducible, which a data pipeline needs).
5. Everything else is **noise** (cluster_id = -1).

At 100 TB: the grid join is the only data-sized shuffle and it is
skew-adaptive via AQE like the PBSM join; CC rounds touch only
core-core *edges* (dense clusters converge in 2-4 rounds). eps chooses
the cell size — the classic failure mode is eps so large that one cell
holds millions of points, which is a parameter error, not a plan hazard
(and AQE splits the hot partition regardless).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_hive_spark.pipeline.dedup import duplicate_clusters

__all__ = ["dbscan", "eps_neighbor_pairs"]

_OFFSET = 1 << 21  # lift grid indices to non-negatives before packing
_STRIDE = 1 << 22


def eps_neighbor_pairs(
    points: DataFrame, id_col: str, x: str, y: str, eps: float,
    with_cell: bool = False,
) -> DataFrame:
    """All ordered pairs (id_a, id_b), a != b, with planar distance <=
    eps. Grid self-join: left side explodes x9, right side lands in one
    cell — one shuffle, no all-pairs. ``with_cell=True`` keeps the
    packed grid cell of id_b as ``_cell`` (dbscan uses it to group the
    local pre-labeling pass); dedup then goes through a groupBy with
    the same pair semantics as the distinct."""
    cs = float(eps)
    li = F.floor(F.col(x) / cs).cast("long")
    lj = F.floor(F.col(y) / cs).cast("long")
    neigh = F.array(
        *[
            (li + dx + _OFFSET) * _STRIDE + (lj + dy + _OFFSET)
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    a = points.select(
        F.col(id_col).alias("id_a"),
        F.col(x).alias("_ax"),
        F.col(y).alias("_ay"),
        F.explode(neigh).alias("_cell"),
    )
    b = points.select(
        F.col(id_col).alias("id_b"),
        F.col(x).alias("_bx"),
        F.col(y).alias("_by"),
        ((li + _OFFSET) * _STRIDE + (lj + _OFFSET)).alias("_cell"),
    )
    d2 = (
        (F.col("_ax") - F.col("_bx")) * (F.col("_ax") - F.col("_bx"))
        + (F.col("_ay") - F.col("_by")) * (F.col("_ay") - F.col("_by"))
    )
    matched = (
        a.join(b, "_cell")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(d2 <= F.lit(cs * cs))
    )
    if with_cell:
        # a pair meets once per cell of id_b (one row in the normal
        # case); min() dedups identically to the distinct below
        return matched.groupBy("id_a", "id_b").agg(F.min("_cell").alias("_cell"))
    return (
        matched
        .select("id_a", "id_b")
        .distinct()  # a pair can meet in up to 9 neighbor cells
    )


_SUPER = 16  # supercell edge length in eps-cells (per contraction level)


def _local_contract(core_edges: DataFrame, levels: int = 2) -> DataFrame:
    """(id, root) star edges from a HIERARCHICAL per-supercell
    union-find over (id_a, id_b, _cell) core-core edges.

    Level k groups edges by the 16^k x 16^k-cell supercell of their
    carried cell and union-finds inside each group (applyInPandas, one
    Arrow batch per supercell), emitting per node (node, local-min
    root) plus the component's min cell as the next level's grouping
    coordinate. Every edge is processed in exactly ONE group per
    level, so connectivity is preserved exactly while the graph's
    diameter shrinks 16x per level — two levels turn the sf0.1
    percolation chains (~7 hash-min hops after one level) into a
    near-star graph that duplicate_clusters' hash-min phase closes in
    1-2 one-shuffle rounds, never reaching the 6-shuffle star phase.
    Group size at level 1 is bounded by the core-core edges inside a
    (16·eps)² window (a hot supercell is the same parameter error as
    the grid join's hot cell); later levels operate on star edges,
    which shrink geometrically."""
    import pandas as pd

    def _uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}
        cell: dict[int, int] = {}

        def find(u: int) -> int:
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        for u, v, c in zip(
            pdf["id_a"].to_numpy(), pdf["id_b"].to_numpy(),
            pdf["_cell"].to_numpy(),
        ):
            u, v, c = int(u), int(v), int(c)
            for w in (u, v):
                if w not in parent:
                    parent[w] = w
                    cell[w] = c
            ru, rv = find(u), find(v)
            if rv < ru:
                ru, rv = rv, ru
            if ru != rv:
                parent[rv] = ru  # min id wins -> root IS the local min
            cell[ru] = min(cell[ru], cell[rv], c)
        nodes = list(parent)
        roots = [find(u) for u in nodes]
        return pd.DataFrame(
            {"id": nodes, "root": roots, "_cell": [cell[r] for r in roots]}
        )

    e = core_edges
    for lvl in range(1, int(levels) + 1):
        g = _SUPER ** lvl
        # stagger each level's grid by half a supercell: consecutive
        # levels must not share boundary lines, or a component sitting
        # on a shared corner splits into the same quadrants at EVERY
        # level and the chain never collapses (observed at sf0.1: the
        # data straddles cell 2^21 = the grid origin, leaving 6
        # hash-min hops after two aligned levels; staggered, 1-2)
        off = (g // 2) * (lvl - 1)
        ci = F.expr(f"_cell div {_STRIDE}") + F.lit(off)
        cj = F.pmod(F.col("_cell"), F.lit(_STRIDE)) + F.lit(off)
        sc = (
            F.floor(ci / g).cast("long") * F.lit(_STRIDE)
            + F.floor(cj / g).cast("long")
        )
        out = (
            e.withColumn("_sc", sc)
            .groupBy("_sc")
            .applyInPandas(_uf, "id long, root long, _cell long")
        )
        e = out.select(
            F.col("id").alias("id_a"), F.col("root").alias("id_b"), "_cell"
        )
    return e.select(F.col("id_a").alias("id"), F.col("id_b").alias("root"))


def dbscan(
    points: DataFrame,
    id_col: str,
    x: str,
    y: str,
    eps: float,
    min_pts: int,
    max_iter: int = 20,
) -> DataFrame:
    """(id, is_core, cluster_id) for every input point.

    cluster_id = min core-point id reachable through core-core eps-links
    (so labels are stable across runs/engines); border points take the
    min label among their core neighbors; noise rows carry -1.

    The global connected-components loop is seeded by a two-level
    HIERARCHICAL local pre-labeling pass (``_local_contract``):
    per-supercell union-finds collapse within-window chains before the
    shuffle loop runs, so duplicate_clusters closes in its cheap
    hash-min phase instead of ~7 large/small-star rounds x fixed job
    overhead (the round-5 plan audit's 6.5 s bench cost).
    """
    pairs = eps_neighbor_pairs(
        points, id_col, x, y, eps, with_cell=True
    ).localCheckpoint()
    ids = points.select(F.col(id_col).alias("id"))

    # |N_eps(p)| >= min_pts, self included => (min_pts - 1) strict neighbors.
    # min_pts <= 1 is satisfied by every point via self-inclusion, including
    # points with zero eps-neighbors (which have no row in `pairs` at all) —
    # the count-based path would silently label those noise, so take all ids.
    if int(min_pts) <= 1:
        core = ids.localCheckpoint()
    else:
        counts = pairs.groupBy("id_a").agg(F.count("*").alias("n_nb"))
        core = (
            counts.filter(F.col("n_nb") >= int(min_pts) - 1)
            .select(F.col("id_a").alias("id"))
            .localCheckpoint()
        )

    core_edges = (
        pairs.join(core.withColumnRenamed("id", "id_a"), "id_a")
        .join(core.withColumnRenamed("id", "id_b"), "id_b")
        .select("id_a", "id_b", "_cell")
    )
    star_edges = _local_contract(core_edges)
    # isolated cores (no core neighbor) must still form singleton clusters
    core_labels = duplicate_clusters(
        star_edges, "id", "root", max_iter=max_iter
    ).union(
        core.join(
            star_edges.select("id").distinct(), "id", "left_anti"
        ).select("id", F.col("id").alias("cluster_id"))
    )

    border = (
        pairs.join(core_labels.withColumnRenamed("id", "id_b"), "id_b")
        .join(core.withColumnRenamed("id", "id_a"), "id_a", "left_anti")
        .groupBy("id_a")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .select(F.col("id_a").alias("id"), "cluster_id")
    )

    labeled = core_labels.select(
        "id", F.lit(1).alias("is_core"), "cluster_id"
    ).union(border.select("id", F.lit(0).alias("is_core"), "cluster_id"))
    return ids.join(labeled, "id", "left").select(
        "id",
        F.coalesce(F.col("is_core"), F.lit(0)).alias("is_core"),
        F.coalesce(F.col("cluster_id"), F.lit(-1)).alias("cluster_id"),
    )
