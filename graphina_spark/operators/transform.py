"""Functional graph-transform surface: retain / map / accessors / matrix.

Reference: /root/reference/src/core/types.rs — ``retain_nodes`` (:452-464,
keep nodes passing the predicate, incident edges of dropped nodes removed),
``retain_edges`` (:466-478), ``map_node_attrs`` (:643-664), ``map_edge_weights``
(:666-688), ``contains_node``/``contains_edge`` (:196-203), ``edge_weight``
(:383-390), ``to_sparse_adjacency_matrix``/``from_sparse_adjacency_matrix``
(:570-620, COO triplets with undirected entries mirrored, self-loops once).

Spark shapes: retain/map are pure projections/filters (no shuffle beyond the
semi-joins that drop incident edges, both keyed on the vertex id — broadcast
when the retained vertex set is small); matrix conversion ranks ids with
graph.assign_dense_ids (the one-pass prefix sum of plans/ordered.py) rather
than a single global window.  Dense matrices (types.rs:524-568) are a deliberate non-goal:
a 10^12-vertex dense adjacency cannot exist — the COO/CSR-style triplet
DataFrame is the at-scale carrier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph, assign_dense_ids


def retain_nodes(g: LinkGraph, predicate: Column) -> LinkGraph:
    """Keep vertices where ``predicate`` (a Column over the vertex frame)
    holds; edges incident to a dropped vertex are removed (types.rs:452-464).

    Two semi-joins keyed on id — Catalyst broadcasts the kept-vertex set
    when it is small, otherwise they are ordinary keyed shuffles.
    """
    kept = g.vertices.where(predicate)
    kid = kept.select("id")
    edges = (
        g.edges.join(kid.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(kid.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .select("src", "dst", "weight")
    )
    return LinkGraph(vertices=kept, edges=edges, directed=g.directed)


def retain_edges(g: LinkGraph, predicate: Column) -> LinkGraph:
    """Keep edges where ``predicate`` (a Column over src/dst/weight) holds;
    every vertex survives (types.rs:466-478 mutates edges only).  Pure
    filter — no shuffle."""
    return LinkGraph(
        vertices=g.vertices, edges=g.edges.where(predicate), directed=g.directed
    )


def map_edge_weights(g: LinkGraph, fn: Column) -> LinkGraph:
    """New graph with ``weight`` replaced by ``fn`` (a Column expression over
    src/dst/weight), like types.rs:666-688's weight functor.  Projection
    only — stays inside whole-stage codegen."""
    return LinkGraph(
        vertices=g.vertices,
        edges=g.edges.select(
            "src", "dst", fn.cast("double").alias("weight")
        ),
        directed=g.directed,
    )


def map_node_attrs(g: LinkGraph, name: str, fn: Column) -> LinkGraph:
    """New graph with vertex column ``name`` set to ``fn`` (types.rs:643-664's
    attribute functor).  Projection only."""
    return LinkGraph(
        vertices=g.vertices.withColumn(name, fn), edges=g.edges, directed=g.directed
    )


def contains_node(g: LinkGraph, node_id: int) -> bool:
    """types.rs:196-198.  Driver-side boolean accessor (a 1-row probe, not a
    hot-path operator)."""
    return bool(g.vertices.where(F.col("id") == node_id).limit(1).count())


def contains_edge(g: LinkGraph, src: int, dst: int) -> bool:
    """types.rs:200-203; undirected graphs match either orientation."""
    cond = (F.col("src") == src) & (F.col("dst") == dst)
    if not g.directed:
        cond = cond | ((F.col("src") == dst) & (F.col("dst") == src))
    return bool(g.edges.where(cond).limit(1).count())


def edge_weight(g: LinkGraph, src: int, dst: int) -> float | None:
    """First matching edge's weight or None (types.rs:383-390 keyed by edge
    id; here keyed by endpoints — parallel edges return the min weight so
    the probe is deterministic)."""
    cond = (F.col("src") == src) & (F.col("dst") == dst)
    if not g.directed:
        cond = cond | ((F.col("src") == dst) & (F.col("dst") == src))
    row = g.edges.where(cond).agg(F.min("weight").alias("w")).first()
    return None if row is None or row["w"] is None else float(row["w"])


def to_sparse_adjacency(g: LinkGraph) -> DataFrame:
    """COO triplet frame ``(row, col, weight)`` with dense 0..n-1 indices
    assigned by ascending vertex id (types.rs:570-590: nodes() iteration
    order becomes the mapping; here the deterministic analogue is id rank).
    Undirected graphs mirror off-diagonal entries exactly like the
    reference's ``add_triplet(j, i, ...)`` for i != j.

    Dense ranking uses assign_dense_ids (plans/ordered.py::global_cumsum,
    the one-pass range-partitioned prefix sum — no single-task global
    window), so this holds at 10^9 vertices."""
    ids = assign_dense_ids(
        g.vertices.select(F.col("id").alias("vid")), "vid"
    ).select(F.col("id").alias("dense"), "vid")
    e = (
        g.edges.join(ids.select(F.col("vid").alias("src"), F.col("dense").alias("row")), "src")
        .join(ids.select(F.col("vid").alias("dst"), F.col("dense").alias("col")), "dst")
        .select("row", "col", "weight")
    )
    if not g.directed:
        mirror = e.where(F.col("row") != F.col("col")).select(
            F.col("col").alias("row"), F.col("row").alias("col"), "weight"
        )
        e = e.unionAll(mirror)
    return e


def from_sparse_adjacency(coo: DataFrame, directed: bool = True) -> LinkGraph:
    """COO triplet frame ``(row, col, weight)`` → LinkGraph (types.rs:591-620).
    Undirected inputs keep only the upper triangle ``row <= col`` (the
    reference skips ``i > j`` to avoid double-adding mirrored entries)."""
    e = coo.select(
        F.col("row").cast("long").alias("src"),
        F.col("col").cast("long").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    )
    if not directed:
        e = e.where(F.col("src") <= F.col("dst"))
    return LinkGraph.from_edges(e, directed=directed)
