"""Triangle counting, clustering coefficients, transitivity.

Reference semantics:
- per-node triangle counts: adjacent neighbor pairs that are themselves
  adjacent (src/parallel/triangles.rs:32-66; single-node
  src/metrics/node_metrics.rs:65-87)
- transitivity = 3·T / Σ C(deg,2) via degree-ordered forward counting
  (src/metrics/graph_metrics.rs:146-215)
- local clustering = tri(v) / C(deg v, 2), 0 when deg < 2
  (node_metrics.rs:35-59)

Spark formulation — the degree-ordered orientation trick the reference itself
uses (graph_metrics.rs:161-210), which is also the scalable distributed shape
(each triangle materializes exactly once, and the join fan-out is bounded by
the *oriented* out-degree ≤ O(√m) instead of the raw degree, so hub vertices
don't explode the 2-path join):

1. canonicalize: undirected simple edges (src < dst, loops dropped, deduped)
2. rank r(v) = (deg(v), v); orient each edge from lower to higher rank
3. triangles = E→ e1 ⋈ E→ e2 on (e1.dst = e2.src) ⋈ E→ e3 closing
   (e1.src, e2.dst)
4. per-node counts = explode the 3 corners + groupBy(id).count()
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph


def _oriented_edges(g: LinkGraph) -> tuple[DataFrame, DataFrame]:
    """(edir(s, d) oriented by (deg, id) rank, cdeg(id, deg) simple degrees)."""
    canon = g.canonical_undirected_edges()
    cdeg = (
        canon.select(F.col("src").alias("id"))
        .unionAll(canon.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    da = cdeg.select(F.col("id").alias("src"), F.col("deg").alias("dsrc"))
    db = cdeg.select(F.col("id").alias("dst"), F.col("deg").alias("ddst"))
    fwd = (F.col("dsrc") < F.col("ddst")) | (
        (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst"))
    )
    edir = (
        canon.join(da, "src")
        .join(db, "dst")
        .select(
            F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("s"),
            F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("d"),
        )
    )
    return edir, cdeg


def triangle_corners(g: LinkGraph) -> DataFrame:
    """Each triangle once as (a, b, c) corner ids."""
    # not cached: a cache would outlive the call, and the three reads of
    # edir share its exchanges (exchange reuse) without one
    edir, _ = _oriented_edges(g)
    e1 = edir.select(F.col("s").alias("a"), F.col("d").alias("b"))
    e2 = edir.select(F.col("s").alias("b"), F.col("d").alias("c"))
    e3 = edir.select(F.col("s").alias("a"), F.col("d").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"])


def triangles(g: LinkGraph) -> DataFrame:
    """(id: long, triangles: long) per-node counts, zeros included
    (parallel/triangles.rs:32-66)."""
    corners = triangle_corners(g)
    per = (
        corners.select(F.col("a").alias("id"))
        .unionAll(corners.select(F.col("b").alias("id")))
        .unionAll(corners.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("t"))
    )
    return g.vertices.select("id").join(per, "id", "left").select(
        "id", F.coalesce("t", F.lit(0)).cast("long").alias("triangles")
    )


def transitivity(g: LinkGraph) -> float:
    """3·T / Σ C(deg, 2); 0.0 when no triples (graph_metrics.rs:146-215)."""
    t = triangle_corners(g).count()
    _, cdeg = _oriented_edges(g)
    triples = cdeg.agg(F.sum(F.col("deg") * (F.col("deg") - 1) / 2)).first()[0] or 0
    return 3.0 * t / float(triples) if triples else 0.0


def clustering_coefficients(g: LinkGraph) -> DataFrame:
    """(id, clustering) local clustering coefficient; 0 when deg < 2
    (node_metrics.rs:35-59)."""
    tri = triangles(g)
    _, cdeg = _oriented_edges(g)
    return (
        tri.join(cdeg, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                F.col("triangles") / (F.col("deg") * (F.col("deg") - 1) / 2.0),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def sampled_triangle_count(
    g: LinkGraph, frac: float, salt: str = "doulion"
) -> DataFrame:
    """DOULION sparsified triangle estimate (Tsourakakis et al., KDD 2009).

    One row ``(sampled_edges: long, sample_triangles: long, est_triangles:
    double)``: keep each canonical undirected edge independently with
    probability ``frac`` (deterministic md5 coin on the edge pair — the same
    primitive as operators/sampling.py::sample_edges, so reruns / partition
    layouts / engines agree bit-for-bit), count triangles on the sparsified
    graph with the exact oriented kernel, and scale by ``1/frac³`` (each
    surviving triangle needed all 3 coins).  The 100 TB play: triangle
    counting cost drops ~``frac³`` for the join while the estimator stays
    unbiased with variance ~1/(frac³·T) relative (Tsourakakis Thm 2) — run
    exact on samples, estimate the corpus.

    DuckDB twin: oracles.py::sampled_triangles_sql (same coin, same oriented
    count, same arithmetic).
    """
    from graphina_spark.operators.sampling import _hex_threshold

    canon = g.canonical_undirected_edges()
    coin = F.substring(
        F.md5(
            F.concat(
                F.lit(salt + ":"),
                F.col("src").cast("string"),
                F.lit(":"),
                F.col("dst").cast("string"),
            )
        ),
        1,
        8,
    )
    if frac >= 1.0:
        kept = canon.cache()  # degenerate: no sparsification
    else:
        kept = canon.where(coin < F.lit(_hex_threshold(frac))).cache()
    sub = LinkGraph(
        vertices=g.vertices.select("id"),
        edges=kept.withColumn("weight", F.lit(1.0)),
        directed=False,
    )
    t = triangle_corners(sub).count()
    m = kept.count()
    kept.unpersist()
    est = t / float(frac) ** 3
    spark = g.vertices.sparkSession
    return spark.createDataFrame(
        [(m, t, round(est, 6))],
        "sampled_edges long, sample_triangles long, est_triangles double",
    )


def clustering_by_degree(g: LinkGraph) -> DataFrame:
    """(degree long, n_nodes long, avg_cc double) — the C(k) curve: mean
    local clustering coefficient over the vertices of each (simple,
    undirected) degree k ≥ 2.  A power-law C(k) ~ k^-1 is the standard
    signature of hierarchical modularity in web graphs (Ravasz-Barabási
    2003); flat C(k) means degree-independent closure.  One extra
    ``groupBy(degree)`` on top of the per-node coefficients — the curve has
    at most max-degree rows.  DuckDB twin: oracles.py::ck_curve_web_sql."""
    tri = triangles(g)
    _, cdeg = _oriented_edges(g)
    per = tri.join(cdeg, "id").where(F.col("deg") >= 2)
    return (
        per.select(
            F.col("deg").alias("degree"),
            (F.col("triangles") / (F.col("deg") * (F.col("deg") - 1) / 2.0)).alias("cc"),
        )
        .groupBy("degree")
        .agg(
            F.count("*").alias("n_nodes"),
            F.round(F.avg("cc"), 6).alias("avg_cc"),
        )
    )
