"""Iterative graph analytics over edge DataFrames.

Connected components live in operators/dedup.py (label propagation +
large-star/small-star); this module adds fixed-iteration PageRank in
exact integer fixed-point arithmetic, so a SQL oracle can replay the
identical computation (floats would drift across engines in the
accumulation order).

Scale shape: each iteration is ONE shuffle — contributions grouped by
destination — plus joins of the (nodes-sized) rank/degree relations
that AQE broadcast-plans when they fit. That is the standard
Pregel-on-DataFrames formulation; at 1000 executors you additionally
persist the rank relation between iterations (done here when
``materialize=True``) and co-partition edges by src so the
rank-to-edges join is exchange-free after the first iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 3,
    materialize: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank on a directed edge list
    (columns ``src``, ``dst``) in integer micro-rank units.

    Ranks start at 1_000_000 per node (average-1 convention); each
    iteration sets, with damping d = 850_000 ppm (0.85),

        r_v  =  (PPM - d)  +  Σ_{u→v} (r_u · d) div (PPM · deg_u)

    with truncating integer division (identical in Spark ``div`` and
    DuckDB ``//`` — both truncate toward zero). Nodes are everything
    appearing as src or dst; sinks contribute nothing (their mass
    evaporates, the plain power-iteration-without-dangling-patch
    convention, replayed identically by the oracle).
    """
    base = PPM - 850_000
    nodes = (
        edges.select(F.col("src").alias("ent"))
        .unionAll(edges.select(F.col("dst").alias("ent")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    r = nodes.withColumn("r", F.lit(PPM).cast("long"))
    for _ in range(iterations):
        contrib = (
            edges.join(r, edges["src"] == r["ent"])
            .join(deg, "src")
            .select(
                "dst",
                F.expr(f"(r * 850000) div ({PPM} * deg)").alias("c"),
            )
        )
        inflow = contrib.groupBy("dst").agg(
            F.sum("c").cast("long").alias("inflow")
        )
        r = (
            nodes.join(inflow, nodes["ent"] == inflow["dst"], "left")
            .select(
                "ent",
                (F.lit(base) + F.coalesce("inflow", F.lit(0)))
                .cast("long")
                .alias("r"),
            )
        )
        if materialize:
            r = r.localCheckpoint(eager=False)
    return (
        r.join(deg, r["ent"] == deg["src"], "left")
        .select(
            "ent",
            F.coalesce("deg", F.lit(0)).cast("long").alias("degree"),
            F.col("r").alias("pagerank_micro"),
        )
    )


def triangle_counts(edges: DataFrame, materialize: bool = True) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as
    DISTINCT canonical pairs (a < b) — the clustering-structure
    readout (triangles are the numerator of local clustering
    coefficients, the communities near-dup / relatedness graphs are
    mined for).

    Degree-ordered orientation (the classic MapReduce triangle
    recipe, Suri & Vassilvitskii 2011): direct every edge from the
    endpoint with lower (degree, id) to the higher, enumerate wedges
    only from each node's OUT-edges, and close them against the
    oriented edge set. Orientation caps out-degree at O(sqrt(m)), so
    wedge fanout is Σ outdeg² ≤ O(m^1.5) regardless of skew — a hub
    node with degree d generates d wedges as the LOW endpoint of
    nothing (its edges point at it), not d². Three equi-shuffles
    (wedge build on the pivot, closure on the (y, z) pair, final
    count on node); no cartesian anywhere.

    Output: (node, degree, n_triangles) for every node of the edge
    set, n_triangles = 0 for triangle-free nodes.

    ``materialize`` localCheckpoints the edge list and the oriented
    edge list (referenced 4× and 3× downstream — degree counting,
    wedge build from both sides, closure): without it the whole
    upstream edge construction re-executes per reference (the
    semdedup/connected-components rule; measured 4.9 s → 1.9 s at
    sf0.1 on the rare-shingle document graph).
    """
    if materialize:
        edges = edges.localCheckpoint()
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    ed = edges.join(da, "a").join(db, "b")
    a_low = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(a_low, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_low, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_low, F.col("degb")).otherwise(F.col("dega")).alias("degdst"),
    )
    if materialize:
        o = o.localCheckpoint()
    w1 = o.select(
        F.col("src").alias("x"), F.col("dst").alias("y"),
        F.col("degdst").alias("degy"),
    )
    w2 = o.select(
        F.col("src").alias("x"), F.col("dst").alias("z"),
        F.col("degdst").alias("degz"),
    )
    # wedge y—x—z with ord(y) < ord(z): the closing edge, if present,
    # is oriented y -> z under the same order.
    wedges = w1.join(w2, "x").where(
        (F.col("degy") < F.col("degz"))
        | ((F.col("degy") == F.col("degz")) & (F.col("y") < F.col("z")))
    )
    closing = o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    tris = wedges.join(closing, ["y", "z"]).select("x", "y", "z")
    per_node = (
        tris.select(F.col("x").alias("node"))
        .unionAll(tris.select(F.col("y").alias("node")))
        .unionAll(tris.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node", "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long")
            .alias("n_triangles"),
        )
    )
