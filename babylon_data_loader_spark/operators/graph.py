"""Connected components over a pair/edge table — dedup clustering.

Near-duplicate detection emits PAIRS; the set a real pipeline needs is
CLUSTERS (transitive closure): if A≈B and B≈C, then {A,B,C} is one
group and exactly one survives. Greedy pair-dropping ("drop doc_b of
every pair") can cascade wrongly through chains; component-min labels
cannot.

Algorithm: iterative min-label propagation (the simple, shuffle-
friendly core of large-star/small-star):
  label(v) ← min(label(v), min over neighbors u of label(u))
repeated to fixpoint. Each iteration is one join + one aggregate —
two shuffles on the node id — and converges in O(component diameter)
iterations (dup clusters are shallow; boilerplate stars converge in
2). The symmetrized edge table is persisted ONCE up front (it feeds
every iteration's join; recomputing its lineage — often an LSH
candidate pipeline — per iteration would dominate). Labels persist
per iteration, the previous iteration is unpersisted, and the
convergence check rides the SAME action that materializes the new
labels (the old label is carried through the aggregate, so no extra
join or second count per iteration). At cluster scale, checkpoint
every ~10 iterations to truncate lineage fully.

The declared query (queries/text.py::q_dedup_clusters) verifies the
whole thing against a DuckDB RECURSIVE CTE computing the same
closure — an exact cross-engine check of an iterative distributed
algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(id, component) — component = min node id reachable via edges.

    `nodes` lists every vertex (isolated ones keep their own id);
    `edges` is undirected (each pair listed once is enough). Label
    propagation stops at convergence or after 25 iterations.
    """
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionAll(
            edges.select(
                F.col(dst_col).alias("a"), F.col(src_col).alias("b")
            )
        )
        .persist()  # reused by every iteration's join; released below
    )
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("component")
    ).persist()
    labels.count()  # materialize iteration 0
    comp_type = dict(labels.dtypes)["component"]
    persisted = labels  # the cached frame backing `labels`
    try:
        for _ in range(25):
            # neighbor-label candidates: edge (a,b) offers label(a) to b
            cand = sym.join(labels, sym.a == labels.id).select(
                F.col("b").alias("id"),
                "component",
                F.lit(None).cast(comp_type).alias("own"),
            )
            # Carry each node's previous label ("own") through the
            # aggregate: convergence = no node where min(candidate)
            # beats its own label — checked on the same persisted
            # result that becomes the next iteration's input, so one
            # action per iteration and no label-vs-label join.
            new_full = (
                labels.select(
                    "id", "component", F.col("component").alias("own")
                )
                .unionAll(cand)
                .groupBy("id")
                .agg(
                    F.min("component").alias("component"),
                    F.min("own").alias("own"),
                )
                .persist()
            )
            changed = new_full.filter(
                F.col("component") < F.col("own")
            ).count()
            persisted.unpersist()
            persisted = new_full
            labels = new_full.select("id", "component")
            if changed == 0:
                break
    finally:
        sym.unpersist()
    # The final labels stay cached for the caller's consumption and
    # are released at the next declared-query boundary.
    from babylon_data_loader_spark.functions.cache import track

    track(persisted)
    return labels


def pagerank(
    edges: DataFrame,
    n_iters: int = 2,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over (src, dst) edges by power iteration,
    DataFrame-native and exactly reproducible: per-edge contributions
    are rounded to 12 decimals then summed as DECIMAL(38,12), and each
    iteration's rank is re-rounded — so the result is independent of
    partition/accumulation order and a SQL engine unrolling the same
    iterations agrees digit for digit.

    Scale shape: each iteration is one join (ranks ⋈ edges on src —
    co-partitioned after the first shuffle) plus one groupBy(dst) with
    map-side partial sums; ranks are O(nodes), edges never rewritten.
    Iteration count is a fixed small constant (power iteration
    converges geometrically at rate `damping`). Assumes every node has
    out-degree ≥ 1 (true for symmetric edge sets like co-occurrence
    graphs); dangling-mass redistribution is deliberately out of scope
    and documented rather than silently approximated."""
    from babylon_data_loader_spark.functions.cache import persist_tracked

    e = persist_tracked(
        edges.select("src", "dst").distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nodes = e.select(F.col("src").alias("node")).distinct()
    n = float(nodes.count())
    ranks = persist_tracked(
        nodes.withColumn("r", F.round(F.lit(1.0) / F.lit(n), 12))
    )
    base = (1.0 - damping) / n
    for _ in range(n_iters):
        contrib = F.round(F.col("r") / F.col("d"), 12).cast(
            "decimal(38,12)"
        )
        ranks = persist_tracked(
            e.join(ranks, on=F.col("src") == F.col("node"))
            .join(deg, on="src")
            .groupBy(F.col("dst").alias("node2"))
            .agg(
                F.round(
                    F.lit(base)
                    + F.lit(damping) * F.sum(contrib).cast("double"),
                    12,
                ).alias("r")
            )
            .select(F.col("node2").alias("node"), "r")
        )
    return ranks


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected
    graph, returned as (node, n_triangles) for nodes in ≥1 triangle.

    `edges` is an undirected edge list (either orientation, duplicates
    tolerated — symmetrized and distinct-ed here).

    Scale shape — degree-ordered orientation: every undirected edge is
    oriented from its lower-(degree, id) endpoint to the higher one,
    and wedges are enumerated only from each node's FORWARD adjacency.
    The forward out-degree of any node is bounded by O(sqrt(|E|))
    regardless of how skewed the raw degree distribution is (a
    celebrity node with 10^6 followers contributes wedges only through
    the rare neighbors ranked above it), so the wedge join cannot
    explode on hubs — the standard arboricity bound behind every
    distributed triangle counter. Each triangle is enumerated exactly
    once (its corners form a total order under (degree, id)), then
    exploded to its 3 corners for per-node counts: three shuffles
    total (degree agg, wedge join, closing semi-join), no cartesian.

    Orientation changes enumeration order only, never the triangle
    set, so a plain a<b<c SQL oracle agrees exactly.
    """
    from babylon_data_loader_spark.functions.cache import persist_tracked

    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    # Total degree per node (both endpoints of each undirected edge).
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Orient each edge toward the higher (degree, id) endpoint.
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = persist_tracked(
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(
                F.struct(F.col("v").alias("s"), F.col("u").alias("t"))
            )
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    )
    # Wedges from forward adjacency: s -> (t1, t2); close with the
    # (canonically low->high) forward edge t1 -> t2 or t2 -> t1 — the
    # closing edge is also oriented, so probe both as an undirected
    # lookup against the canonical min/max pair.
    e1 = fwd.select(F.col("s"), F.col("t").alias("t1"))
    e2 = fwd.select(F.col("s"), F.col("t").alias("t2"))
    wedges = e1.join(e2, "s").filter(F.col("t1") < F.col("t2"))
    closing = fwd.select(
        F.least("s", "t").alias("t1"), F.greatest("s", "t").alias("t2")
    ).distinct()
    tri = wedges.join(closing, ["t1", "t2"])
    corners = (
        tri.select(F.col("s").alias("node"))
        .unionAll(tri.select(F.col("t1").alias("node")))
        .unionAll(tri.select(F.col("t2").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
