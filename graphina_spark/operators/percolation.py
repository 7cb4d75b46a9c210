"""k=3 clique percolation communities (triangle percolation).

Palla, Derényi, Farkas, Vicsek, *Uncovering the overlapping community
structure of complex networks* (Nature 435, 2005), k = 3: two triangles are
adjacent iff they share an edge; a percolation community is a connected
cluster of triangles, and a vertex belongs to every community whose
triangles contain it (communities overlap at vertices, never at edges — two
triangles sharing an edge are by definition in the same community, so the
*edges* of triangles partition cleanly).

Extension beyond the reference (habedi/graphina has no clique percolation);
the triangle enumeration is the same degree-ordered oriented join as
operators/triangles.py (each triangle exactly once, fan-out bounded by
oriented out-degree), so no new skew surface is introduced.

Spark formulation — reuse the two gated kernels instead of inventing one:

1. triangles via :func:`triangle_corners` (one oriented 2-path join);
2. lift to the **edge-adjacency graph**: nodes = canonical triangle edges
   packed as ``least·2^32 + greatest`` longs, edges = the 3 edge pairs each
   triangle contributes (O(3·T) rows — never the per-edge quadratic
   "triangles sharing this edge" pair set, which a hub edge shared by
   thousands of triangles would blow up);
3. hash-min connected components (operators/components.py — pointer-jumped,
   O(log d) rounds) over that graph; community label = min packed edge key
   (well-defined because edges partition);
4. unpack each labeled edge into its two endpoints → (id, community) rows.

Packing assumes dense vertex ids < 2^32 (graph.assign_dense_ids ranks from
0, so this holds up to 4.29 B vertices — beyond it, swap the packed
long for a struct key).

DuckDB twin: oracles.py::percolation_web_sql (recursive-CTE closure over the
same packed edge-adjacency pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph
from graphina_spark.operators.triangles import triangle_corners

_SHIFT = 4_294_967_296  # 2^32


def _pack(u: Column, v: Column) -> Column:
    """Canonical undirected edge {u, v} as one long: min·2^32 + max."""
    return F.least(u, v) * F.lit(_SHIFT) + F.greatest(u, v)


def edge_community_labels(g: LinkGraph, max_iter: int = 100) -> DataFrame:
    """(ekey: long, community: long) — every triangle edge labeled with its
    percolation community (= min packed edge key in the community)."""
    from graphina_spark.operators.components import connected_components

    tris = triangle_corners(g).select(
        _pack(F.col("a"), F.col("b")).alias("e1"),
        _pack(F.col("b"), F.col("c")).alias("e2"),
        _pack(F.col("a"), F.col("c")).alias("e3"),
    )
    pairs = (
        tris.select(F.col("e1").alias("src"), F.col("e2").alias("dst"))
        .unionAll(tris.select(F.col("e1").alias("src"), F.col("e3").alias("dst")))
        .unionAll(tris.select(F.col("e2").alias("src"), F.col("e3").alias("dst")))
        .distinct()
    )
    enodes = (
        tris.select(F.col("e1").alias("id"))
        .unionAll(tris.select(F.col("e2").alias("id")))
        .unionAll(tris.select(F.col("e3").alias("id")))
        .distinct()
    )
    eg = LinkGraph(
        vertices=enodes,
        edges=pairs.withColumn("weight", F.lit(1.0)),
        directed=False,
    )
    comp = connected_components(eg, max_iter=max_iter)
    return comp.select(F.col("id").alias("ekey"), F.col("component").alias("community"))


def triangle_percolation(g: LinkGraph, max_iter: int = 100) -> DataFrame:
    """(id: long, community: long) — one row per (vertex, community)
    membership; vertices in no triangle do not appear (k=3 percolation only
    covers triangle-covered vertices, Palla 2005 §Methods).  Overlapping
    vertices appear once per community."""
    labeled = edge_community_labels(g, max_iter=max_iter)
    u = labeled.select(
        F.floor(F.col("ekey") / F.lit(_SHIFT)).cast("long").alias("id"), "community"
    )
    v = labeled.select((F.col("ekey") % F.lit(_SHIFT)).cast("long").alias("id"), "community")
    return u.unionAll(v).distinct()


def percolation_summary(g: LinkGraph, max_iter: int = 100) -> DataFrame:
    """(community: long, n_vertices: long, n_edges: long) — per-community
    sizes: n_edges = triangle edges carrying the label (edges partition),
    n_vertices = distinct member vertices (vertices may overlap)."""
    labeled = edge_community_labels(g, max_iter=max_iter).cache()
    ne = labeled.groupBy("community").agg(F.count("*").alias("n_edges"))
    members = (
        labeled.select(
            F.floor(F.col("ekey") / F.lit(_SHIFT)).cast("long").alias("id"), "community"
        )
        .unionAll(
            labeled.select(
                (F.col("ekey") % F.lit(_SHIFT)).cast("long").alias("id"), "community"
            )
        )
        .distinct()
    )
    nv = members.groupBy("community").agg(F.count("*").alias("n_vertices"))
    return nv.join(ne, "community").select("community", "n_vertices", "n_edges")
