"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Engine: graphina_spark — a PySpark-native link-graph analytics engine with
the capabilities of habedi/graphina (see SURVEY.md).  Graph queries run over
deterministic graphs derived from the ``customer`` table with pure modular
arithmetic, reproduced identically in the DuckDB oracles
(graphina_spark/sources/derived.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from graphina_spark.plans.materialize import local_materialize as _mat
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

ROUND = 6


def _web(spark: SparkSession, sf_dir: str):
    from graphina_spark.sources.derived import web_graph

    g = web_graph(spark, sf_dir)
    # flat-leaf materialization: iterative kernels re-reference the edge
    # frame every superstep; a deep derivation plan under Long.MaxValue
    # leaf stats makes Catalyst's per-join size product blow up
    g.edges = g.edges.transform(_mat)
    return g


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: weighted PageRank (5 supersteps) over the derived web graph
    at sf0.001; returns (id, pr) — driver checks rows > 0."""
    return _q_pagerank_web(spark, "/root/testdata/sf0.001")


def _q_pagerank_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.pagerank import pagerank

    g = _web(spark, sf_dir)
    pr = pagerank(g, damping=0.85, fixed_iters=5, tol=None)
    return pr.select("id", F.round("rank", ROUND).alias("pr"))


def _q_degree_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.degree import degree_centrality

    return degree_centrality(_web(spark, sf_dir))


def _q_out_degree_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.degree import out_degree_centrality

    return out_degree_centrality(_web(spark, sf_dir))


def _q_in_degree_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.degree import in_degree_centrality

    return in_degree_centrality(_web(spark, sf_dir))


def _block(spark: SparkSession, sf_dir: str):
    from graphina_spark.sources.derived import block_graph

    g = block_graph(spark, sf_dir)
    g.edges = g.edges.transform(_mat)
    return g


def _q_components_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.components import connected_components

    return connected_components(_block(spark, sf_dir))


def _q_wcc_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.components import weakly_connected_components

    return weakly_connected_components(_web(spark, sf_dir))


def _q_lpa_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.lpa import label_propagation

    return label_propagation(_block(spark, sf_dir), fixed_iters=4)


def _q_triangles_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.triangles import triangles

    return triangles(_web(spark, sf_dir))


def _q_clustering_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.triangles import clustering_coefficients

    return clustering_coefficients(_web(spark, sf_dir)).select(
        "id", F.round("clustering", ROUND).alias("clustering")
    )


def _q_transitivity_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.triangles import transitivity

    val = transitivity(_web(spark, sf_dir))
    return spark.createDataFrame([(round(val, ROUND),)], "transitivity double")


def _pages_graph(spark: SparkSession, sf_dir: str):
    from graphina_spark.graph import LinkGraph
    from graphina_spark.sources.derived import pages_from_customer

    return LinkGraph.from_pages(pages_from_customer(spark, sf_dir))


def _q_page_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """html → Arrow link-parsing UDF → (src, dst) id edge list."""
    g = _pages_graph(spark, sf_dir)
    return g.edges.select("src", "dst")


def _q_page_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """html → frozen Arrow text-extraction UDF → (url, text); byte-identical
    invariant checked against a pure-SQL reconstruction."""
    from graphina_spark.functions.extract import extract_text_udf
    from graphina_spark.sources.derived import pages_from_customer

    pages = pages_from_customer(spark, sf_dir)
    return pages.select("url", extract_text_udf(F.col("html")).alias("text"))


def _q_pagerank_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ingestion path: pages html → parsed edges → PageRank."""
    from graphina_spark.operators.pagerank import pagerank

    g = _pages_graph(spark, sf_dir)
    pr = pagerank(g, damping=0.85, fixed_iters=5, tol=None)
    return pr.select("id", F.round("rank", ROUND).alias("pr"))


def _communities7(g):
    return g.vertices.select("id", (F.col("id") % 7).alias("community"))


def _mk_links_query(measure: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from graphina_spark.operators import links as L

        g = _web(spark, sf_dir)
        if measure == "cn":
            return L.common_neighbors(g)
        if measure == "jaccard":
            df = L.jaccard_coefficient(g)
            return df.select("u", "v", F.round("jaccard", ROUND).alias("jaccard"))
        if measure == "aa":
            return L.adamic_adar_index(g).select(
                "u", "v", F.round("aa", ROUND).alias("aa")
            )
        if measure == "ra":
            return L.resource_allocation_index(g).select(
                "u", "v", F.round("ra", ROUND).alias("ra")
            )
        if measure == "pa":
            return L.preferential_attachment(g)
        if measure == "cn_sh":
            return L.cn_soundarajan_hopcroft(g, _communities7(g))
        if measure == "ra_sh":
            return L.ra_index_soundarajan_hopcroft(g, _communities7(g)).select(
                "u", "v", F.round("ra_sh", ROUND).alias("ra_sh")
            )
        if measure == "wic":
            return L.within_inter_cluster(g, _communities7(g)).select(
                "u", "v", F.round("wic", ROUND).alias("wic")
            )
        if measure == "ccpa":
            return L.common_neighbor_centrality(g).select(
                "u", "v", F.round("ccpa", ROUND).alias("ccpa")
            )
        raise KeyError(measure)

    return q


_LINK_MEASURES = ["cn", "jaccard", "aa", "ra", "pa", "cn_sh", "ra_sh", "wic", "ccpa"]


def _q_eigenvector_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.centrality import eigenvector_centrality

    df = eigenvector_centrality(_web(spark, sf_dir), fixed_iters=5)
    return df.select("id", F.round("eigenvector", ROUND).alias("eigenvector"))


def _q_katz_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.centrality import katz_centrality
    from graphina_spark.oracles import KATZ_ALPHA

    df = katz_centrality(_web(spark, sf_dir), alpha=KATZ_ALPHA, fixed_iters=5)
    return df.select("id", F.round("katz", ROUND).alias("katz"))


def _q_laplacian_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.centrality import laplacian_centrality

    return laplacian_centrality(_web(spark, sf_dir))


def _q_voterank_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 elected seeds under an unrolled 10-election DuckDB oracle
    (election order pinned, same bar as the reference's election-order
    oracle, oracle_centrality_tests.rs:180-192)."""
    from graphina_spark.operators.centrality import voterank

    seeds = voterank(_web(spark, sf_dir), 10)
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(seeds)], "seed_rank int, id long"
    )


def _q_personalized_pagerank_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.pagerank import pagerank

    g = _web(spark, sf_dir)
    pers = g.vertices.select(
        "id", F.when(F.col("id") % 10 == 0, 1.0).otherwise(0.0).alias("p")
    )
    pr = pagerank(g, damping=0.85, fixed_iters=5, tol=None, personalization=pers)
    return pr.select("id", F.round("rank", ROUND).alias("pr"))


def _q_khop_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.subgraphs import k_hop_neighbors

    g = _web(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 97 == 0).select("id")
    return k_hop_neighbors(g, srcs, 2).select("id", F.col("hops").cast("int"))


def _q_induced_sub_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.subgraphs import induced_subgraph

    g = _web(spark, sf_dir)
    sub = induced_subgraph(g, g.vertices.where(F.col("id") < 200).select("id"))
    return sub.edges.select("src", "dst")


def _q_modularity_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import modularity

    g = _block(spark, sf_dir)
    com = g.vertices.select("id", F.floor(F.col("id") / 100).alias("community"))
    val = modularity(g, com)
    return spark.createDataFrame([(round(val, ROUND),)], "modularity double")


def _q_louvain_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain under a QUALITY oracle — the same bar the reference pins for
    its own Louvain (modularity quality, oracle_community_tests.rs:150):
    returns one row (q_known, quality_ok) where q_known is the modularity of
    the planted block partition (cross-checked against DuckDB at 6 dp) and
    quality_ok asserts Q(louvain) ≥ q_known, i.e. Louvain found a partition
    at least as good as the planted one.  Exact labels are NOT a valid bar:
    at small sf the planted partition is not the modularity optimum (Louvain
    legitimately beats it, e.g. 0.60 vs 0.40 at sf0.001)."""
    from graphina_spark.operators.louvain import louvain
    from graphina_spark.operators.metrics import modularity

    g = _block(spark, sf_dir)
    com = louvain(g, max_levels=6, max_rounds=12)
    q_l = modularity(g, com)
    known = g.vertices.select("id", (F.floor(F.col("id") / 100) * 100).alias("community"))
    q_k = modularity(g, known)
    return spark.createDataFrame(
        [(round(q_k, ROUND), bool(q_l + 1e-9 >= q_k))],
        "q_known double, quality_ok boolean",
    )


def _q_leiden_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leiden-style refined Louvain under the same quality oracle as
    louvain_block, PLUS the Leiden connectivity guarantee asserted
    spark-side: all_connected = every community is one connected part
    (operators/leiden.py; Traag et al. 2019 guarantee 1).  Splitting a
    disconnected community never lowers modularity, so the q-bar holds."""
    from graphina_spark.operators.leiden import community_parts, leiden
    from graphina_spark.operators.metrics import modularity

    g = _block(spark, sf_dir)
    com = leiden(g, max_levels=6, max_rounds=12)
    q_l = modularity(g, com)
    known = g.vertices.select("id", (F.floor(F.col("id") / 100) * 100).alias("community"))
    q_k = modularity(g, known)
    n_bad = community_parts(g, com).where(F.col("n_parts") != 1).count()
    return spark.createDataFrame(
        [(round(q_k, ROUND), bool(q_l + 1e-9 >= q_k), bool(n_bad == 0))],
        "q_known double, quality_ok boolean, all_connected boolean",
    )


def _q_assortativity_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import assortativity

    val = assortativity(_web(spark, sf_dir))
    return spark.createDataFrame([(round(val, ROUND),)], "assortativity double")


def _q_avg_clustering_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import average_clustering_coefficient

    val = average_clustering_coefficient(_web(spark, sf_dir))
    return spark.createDataFrame([(round(val, ROUND),)], "avg_clustering double")


def _q_density_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import density

    val = density(_web(spark, sf_dir))
    return spark.createDataFrame([(round(val, ROUND),)], "density double")


def _q_reaching2_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.reaching import local_reaching_centrality

    return local_reaching_centrality(_web(spark, sf_dir), 2)


def _q_infomap_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.infomap import infomap

    return infomap(_web(spark, sf_dir), fixed_iters=3)


def _q_msf_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest on the block graph, edge-set oracle:
    the (weight, src, dst) total-order tie-break makes the forest UNIQUE, so
    the unrolled-Borůvka DuckDB twin reproduces the identical edge set —
    stronger than the reference's own weight+count bar (oracle_tests.rs MST
    checks)."""
    from graphina_spark.operators.mst import boruvka_msf

    g = _block(spark, sf_dir)
    # deterministic distinct weights from endpoint arithmetic
    g.edges = g.edges.withColumn(
        "weight", ((F.col("src") * 13 + F.col("dst") * 7) % 97 + 1).cast("double")
    )
    return boruvka_msf(g)


def _q_scc_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed SCC (trim + forward-color + backward gather) on the
    directed web graph; DuckDB oracle = mutual-reachability closure."""
    from graphina_spark.operators.scc import strongly_connected_components

    return strongly_connected_components(_web(spark, sf_dir))


def _q_condensation_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC→SCC condensation DAG edges (bow-tie analysis companion)."""
    from graphina_spark.operators.scc import condensation_edges

    return condensation_edges(_web(spark, sf_dir))


def _q_bfs_dist_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.paths import bfs_distances

    g = _web(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 97 == 0).select("id")
    return bfs_distances(g, srcs, max_depth=4)


def _q_sssp_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.paths import sssp_distances

    g = _web(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 199 == 0).select("id")
    d = sssp_distances(g, srcs)
    return d.select("source", "id", F.round("dist", ROUND).alias("dist"))


def _q_sp_tree_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest-path TREE: distances plus the min-id predecessor
    giving one reconstructible shortest path per reached vertex (the
    reference's Dijkstra returns distance maps, its A* an actual path —
    paths.rs:201-270, :465-532; this batch contract serves both)."""
    from graphina_spark.operators.paths import shortest_path_tree

    g = _web(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 199 == 0).select("id")
    t = shortest_path_tree(g, srcs, weighted=True)
    return t.select(
        "source", "id", F.round("dist", ROUND).alias("dist"), "pred"
    )


def _q_sssp_path_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One actual shortest vertex chain: source 1 → its farthest reachable
    vertex (max dist, max id tie-break), as ordered (step, id, dist) rows —
    the "show me the chain of links from A to B" operator."""
    from graphina_spark.operators.paths import shortest_path

    g = _web(spark, sf_dir)
    p = shortest_path(g, 1, None, weighted=True)
    return p.select("step", "id", F.round("dist", ROUND).alias("dist"))


def _sub60(spark: SparkSession, sf_dir: str):
    """Induced subgraph on ids < 60 — the bounded-exact-lane fixture."""
    from graphina_spark.operators.subgraphs import induced_subgraph

    g = _web(spark, sf_dir)
    return induced_subgraph(g, g.vertices.where(F.col("id") < 60))


def _q_fw_local_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floyd–Warshall all-pairs on a bounded induced subgraph — the exact
    driver-local lane for the reference's dense algorithms
    (paths.rs:548-603); oracle = per-source Bellman-Ford unroll."""
    from graphina_spark.operators.exact import floyd_warshall

    fw = floyd_warshall(_sub60(spark, sf_dir))
    return fw.select("src", "dst", F.round("dist", ROUND).alias("dist"))


def _q_johnson_neg_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson all-pairs with NEGATIVE weights on an induced DAG
    (src < dst edges, weight − 3 ∈ {−2..2}; acyclic ⇒ no negative cycle)
    — proves the h-potential reweighting exactly (paths.rs:617-698)."""
    from graphina_spark.graph import LinkGraph
    from graphina_spark.operators.exact import johnson

    g = _web(spark, sf_dir)
    e = g.edges.where(
        (F.col("src") < 60) & (F.col("dst") < 60)
        & (F.col("src") < F.col("dst"))
    ).select("src", "dst", (F.col("weight") - 3.0).alias("weight"))
    sub = LinkGraph(
        vertices=g.vertices.where(F.col("id") < 60),
        edges=e, directed=True,
    )
    j = johnson(sub)
    return j.select("src", "dst", F.round("dist", ROUND).alias("dist"))


def _q_astar_local_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A* cost parity: exact shortest cost 1→t for a fixed target set on
    the bounded subgraph (paths.rs:465-532; h ≡ 0 here — admissibility
    with a live heuristic is pinned in pytest)."""
    from graphina_spark.operators.exact import astar_path

    sub = _sub60(spark, sf_dir)
    rows = []
    for t in (2, 3, 5, 58):
        p = astar_path(sub, 1, t)
        tail = p.orderBy(F.desc("step")).limit(1).collect()
        if tail and tail[0]["id"] == t:
            rows.append((1, t, float(tail[0]["dist"])))
    if not rows:
        return spark.createDataFrame([], "s long, t long, dist double")
    return spark.createDataFrame(rows, "s long, t long, dist double").select(
        "s", "t", F.round("dist", ROUND).alias("dist")
    )


def _q_dfs_tree_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFS preorder (traversal/algorithms.rs:119-161) over the min-pred
    BFS tree of the bounded subgraph, children ascending — a total
    visitation ORDER gated against the lexicographic root-path oracle."""
    from graphina_spark.graph import LinkGraph
    from graphina_spark.operators.exact import dfs_preorder
    from graphina_spark.operators.paths import shortest_path_tree

    sub = _sub60(spark, sf_dir)
    src = spark.createDataFrame([(1,)], "id long")
    tree = shortest_path_tree(sub, src, weighted=False)
    te = tree.where(F.col("pred") != -1).select(
        F.col("pred").alias("src"), F.col("id").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    tg = LinkGraph(
        vertices=tree.select("id"), edges=te, directed=True
    )
    return dfs_preorder(tg, 1)


def _q_incremental_cc_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming incremental-CC kernel, driver-certified: the web
    graph's edges arrive as 3 deterministic micro-batches ((src+dst)%3),
    folded through streaming/graphkernels.py::merge_components
    (component-graph contraction — exactly what the foreachBatch sink
    runs); isolated vertices stay singletons.  Oracle = the batch
    weakly-connected-components SQL over the FULL edge set, so parity
    proves the incremental labels are identical to a full recompute."""
    from graphina_spark.plans.materialize import local_materialize
    from graphina_spark.streaming.graphkernels import merge_components

    g = _web(spark, sf_dir)
    labels = spark.createDataFrame([], "id long, component long")
    for k in range(3):
        batch = g.edges.where((F.col("src") + F.col("dst")) % 3 == k).select(
            "src", "dst"
        )
        labels = merge_components(labels, batch).transform(local_materialize)
    return (
        g.vertices.select("id")
        .join(labels, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def _q_pagerank_uniform_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNWEIGHTED shard gather: w_list is never stored — the
    gather computes w_norm = 1/degree on the fly (plans/shards.py uniform
    mode, auto-detected from the constant edge weight), cutting the
    per-superstep adjacency scan to 4 B/edge of int dsts.  This is
    the Common-Crawl serving shape (link graphs are unweighted).  Oracle =
    the standard unrolled PageRank SQL over the unit-weight edge set, so
    the driver certifies the computed-1/degree arithmetic exactly."""
    from graphina_spark.graph import LinkGraph
    from graphina_spark.operators.pagerank import pagerank
    from graphina_spark.plans.shards import build_adj_shards

    g = _web(spark, sf_dir)
    gu = LinkGraph(
        vertices=g.vertices,
        edges=g.edges.select("src", "dst", F.lit(1.0).alias("weight")),
        directed=True,
    )
    adj = build_adj_shards(gu, salt_cap=50)
    pr = pagerank(gu, damping=0.85, fixed_iters=5, tol=None, shards=adj)
    return pr.select("id", F.round("rank", ROUND).alias("pr"))


def _q_incremental_pr_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming incremental-PageRank kernel, driver-certified: the web
    graph's weighted edges arrive as 3 deterministic micro-batches
    ((src+dst)%3), folded through streaming/graphkernels.py::
    advance_pagerank — the exact pure-batch step the foreachBatch sink
    runs — with each fold WARM-STARTED from the previous fold's ranks and
    pinned at 3 fixed supersteps so the DuckDB twin can unroll the whole
    trajectory (folds x iters).  Certifies the warm-start contract
    (previous ranks + 1/n for unseen, L1-normalized) on top of the gated
    dangling-redistribution kernel."""
    from graphina_spark.plans.materialize import local_materialize
    from graphina_spark.streaming.graphkernels import PR_EDGES_DDL, advance_pagerank

    g = _web(spark, sf_dir)
    store = spark.createDataFrame([], PR_EDGES_DDL)
    ranks = None
    for b in range(3):
        batch = g.edges.where((F.col("src") + F.col("dst")) % 3 == b)
        store, ranks = advance_pagerank(
            store, ranks, batch, damping=0.85, tol=None, fixed_iters=3
        )
        store = store.transform(local_materialize)
        ranks = ranks.transform(local_materialize)
    return ranks.select("id", F.round("rank", ROUND).alias("pr"))


def _q_incremental_tri_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming incremental-triangles kernel, driver-certified: the
    web graph's edges arrive as 3 deterministic micro-batches, folded
    through streaming/triangles.py::merge_triangles (delta anti-join +
    updated-adjacency wedge closure + sorted-triple dedup — exactly what
    the foreachBatch sink runs).  Oracle = the batch triangle SQL over the
    FULL edge set, so parity proves per-vertex counts after incremental
    folding are identical to a full recompute."""
    from graphina_spark.plans.materialize import local_materialize
    from graphina_spark.streaming.triangles import (
        empty_state,
        merge_triangles,
        state_counts,
    )

    g = _web(spark, sf_dir)
    state = empty_state(spark)
    for b in range(3):
        batch = g.edges.where((F.col("src") + F.col("dst")) % 3 == b).select(
            "src", "dst"
        )
        state = merge_triangles(state, batch).transform(local_materialize)
    counts = state_counts(state)
    return (
        g.vertices.select("id")
        .join(counts, "id", "left")
        .select(
            "id",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        )
    )


def _q_incremental_sage_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming incremental GraphSAGE export, driver-certified: web
    edges arrive as 3 deterministic micro-batches folded through
    streaming/gnnexport.py::merge_sage_export (delta anti-join; only
    batch-touched vertices recomputed against the accumulated adjacency,
    untouched export rows carried verbatim — exactly the foreachBatch
    step).  The deterministic k-neighbor sample depends only on the FINAL
    edge set, so parity vs the batch sage_agg_web SQL proves the
    carry/recompute bookkeeping loses nothing."""
    from graphina_spark.plans.materialize import local_materialize
    from graphina_spark.streaming.gnnexport import merge_sage_export

    g = _web(spark, sf_dir)
    embs = _embs(spark, sf_dir)
    store = spark.createDataFrame([], "src long, dst long")
    export = spark.createDataFrame(
        [], "id long, pos int, mean_val double, n_sampled long"
    )
    for b in range(3):
        batch = g.edges.where((F.col("src") + F.col("dst")) % 3 == b).select(
            "src", "dst"
        )
        store, export = merge_sage_export(store, export, batch, embs, k=3)
        store = store.transform(local_materialize)
        export = export.transform(local_materialize)
    return export.select(
        "id",
        "pos",
        # + 0.0 collapses IEEE −0.0 (r4 hash-red root cause) — twin does too
        (F.round("mean_val", ROUND) + F.lit(0.0)).alias("mean_val"),
        "n_sampled",
    )


def _q_pagerank_sharded_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard gather over caller-built shards (plans/shards.py,
    salt_cap=50, dangling sink + sink-read actions) — oracle identical to
    pagerank_web's unrolled SQL, so the driver certifies shards a caller
    builds and keeps as well as the ones pagerank_web's call builds
    itself."""
    from graphina_spark.operators.pagerank import pagerank
    from graphina_spark.plans.shards import build_adj_shards

    g = _web(spark, sf_dir)
    adj = build_adj_shards(g, salt_cap=50)
    pr = pagerank(g, damping=0.85, fixed_iters=5, tol=None, shards=adj)
    out = pr.select("id", F.round("rank", ROUND).alias("pr"))
    return out


def _q_pagerank_resume_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule RESUMABILITY contract, driver-certified: PageRank
    runs 2 supersteps with per-iteration checkpoints (parquet state +
    lineage manifest, plans/checkpoint.py), then a SECOND pagerank() call
    resumes from the latest manifest and finishes supersteps 3-5.  The
    oracle is the plain 5-iteration unrolled SQL — parity proves the
    resumed trajectory is bit-identical to an uninterrupted run."""
    import tempfile

    from graphina_spark.operators.pagerank import pagerank
    from graphina_spark.plans.checkpoint import CheckpointManager

    g = _web(spark, sf_dir)
    ck = CheckpointManager(
        base=tempfile.mkdtemp(prefix="pr-resume-"),
        run_id="gate",
        params={"damping": 0.85, "iters": 5},
    )
    # phase 1: supersteps 0-1, checkpointed, result discarded (the "crash")
    pagerank(g, damping=0.85, fixed_iters=2, tol=None, checkpoint=ck)
    # phase 2: resume picks up iteration 1's manifest, runs 2-4
    pr = pagerank(
        g, damping=0.85, fixed_iters=5, tol=None, checkpoint=ck, resume=True
    )
    return pr.select("id", F.round("rank", ROUND).alias("pr"))


def _q_mst_exact_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal MSF (exact lane, mst/algorithms.rs:295-360) on the induced
    id<150 subgraph — under the (weight, src, dst) total order the forest
    is UNIQUE, so the Borůvka-unrolled oracle reproduces the edge set;
    Prim equality is pinned in pytest."""
    from graphina_spark.operators.exact import kruskal_msf
    from graphina_spark.operators.subgraphs import induced_subgraph

    g = _web(spark, sf_dir)
    sub = induced_subgraph(g, g.vertices.where(F.col("id") < 150))
    k = kruskal_msf(sub)
    return k.select("src", "dst", F.round("weight", ROUND).alias("weight"))


def _q_tsp_local_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy TSP tour (approximation/tsp.rs:10-92) on the bounded
    subgraph: hop to the nearest unvisited vertex by shortest-path
    distance; partial tours allowed on disconnected inductions."""
    from graphina_spark.operators.exact import greedy_tsp

    t = greedy_tsp(_sub60(spark, sf_dir), 1, partial=True)
    return t.select("step", "id", F.round("leg_dist", ROUND).alias("leg_dist"))


def _q_treewidth_local_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-degree treewidth elimination game (approximation/
    treewidth.rs:33-160) on the bounded subgraph: full elimination order +
    per-step fill-in degree (width = max deg_at_elim), gated against the
    step-unrolled SQL elimination."""
    from graphina_spark.operators.exact import treewidth_decomposition

    return treewidth_decomposition(_sub60(spark, sf_dir), "min_degree")


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode through the Arrow pipeline: per-id
    deterministic pixels are encoded as spec-conformant PNG (zlib, filter
    types cycling 0-4) and GIF (LZW, 64-entry palette) byte streams, then
    decoded back via functions/codecs.py inside real_image_features
    (mapInPandas).  The oracle recomputes the per-channel means from the
    pixel arithmetic alone — parity proves decode correctness bit-exactly."""
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    from graphina_spark.functions.multimodal import real_image_features

    ids = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select(F.col("c_custkey").cast("long").alias("id"))
        .where(F.col("id") < 120)
    )

    def build(batches):
        import numpy as np
        import pandas as pd

        from graphina_spark.functions.codecs import encode_gif, encode_png

        pal = np.stack(
            [
                4 * np.arange(64),
                255 - 3 * np.arange(64),
                (7 * np.arange(64)) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                h, w = 6 + i % 5, 6 + i % 7
                base = i + 13 * np.arange(h)[:, None] + 31 * np.arange(w)[None, :]
                png = np.stack(
                    [(base + 97 * k) % 256 for k in range(3)], axis=-1
                ).astype(np.uint8)
                gif = (base % 64).astype(np.uint8)
                rows.append(
                    (i, bytearray(encode_png(png)), bytearray(encode_gif(gif, pal)))
                )
            yield pd.DataFrame(rows, columns=["id", "png", "gif"])

    blobs = ids.mapInPandas(build, "id long, png binary, gif binary")
    outs = []
    for col in ("png", "gif"):
        f = real_image_features(
            blobs.select("id", F.col(col).alias("blob")), id_col="id",
            blob_col="blob",
        )
        outs.append(
            f.select(
                "id", "format", "height", "width",
                F.round("mean_r", ROUND).alias("mean_r"),
                F.round("mean_g", ROUND).alias("mean_g"),
                F.round("mean_b", ROUND).alias("mean_b"),
            )
        )
    return outs[0].unionAll(outs[1])


def _q_media_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode through the Arrow pipeline: per-id
    block-constant grayscale pixels are encoded as spec-conformant SOF0
    streams (flat quant table — constant 8x8 blocks carry only an integer
    DC coefficient, so the round trip is BIT-EXACT) and decoded back via
    functions/codecs.py::decode_jpeg inside real_image_features
    (mapInPandas).  The oracle recomputes the per-image means from block
    arithmetic alone — parity proves the Huffman/zigzag/DCT plumbing.
    The non-constant AC path is pinned separately in tests/test_jpeg.py
    against the codec-free pixel-pipeline twin."""
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    from graphina_spark.functions.multimodal import real_image_features

    ids = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select(F.col("c_custkey").cast("long").alias("id"))
        .where(F.col("id") < 120)
    )

    def build(batches):
        import numpy as np
        import pandas as pd

        from graphina_spark.functions.codecs import JPEG_QUANT_FLAT, encode_jpeg

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                bh, bw = 1 + i % 3, 1 + i % 2
                vals = (
                    i * 7
                    + 13 * np.arange(bh)[:, None]
                    + 31 * np.arange(bw)[None, :]
                ) % 256
                img = np.kron(vals, np.ones((8, 8), dtype=int)).astype(
                    np.uint8
                )
                rows.append(
                    (i, bytearray(encode_jpeg(img, quant=JPEG_QUANT_FLAT)))
                )
            yield pd.DataFrame(rows, columns=["id", "blob"])

    blobs = ids.mapInPandas(build, "id long, blob binary")
    f = real_image_features(blobs, id_col="id", blob_col="blob")
    return f.select(
        "id", "format", "height", "width",
        F.round("mean_r", ROUND).alias("mean_r"),
        F.round("mean_g", ROUND).alias("mean_g"),
        F.round("mean_b", ROUND).alias("mean_b"),
    )


def _q_closeness_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Wasserman-Faust closeness, exact for a deterministic
    landmark subset (the honest web-scale contract: score the nodes you
    care about, one batched multi-source relaxation)."""
    from graphina_spark.operators.closeness import closeness_centrality

    g = _web(spark, sf_dir)
    nodes = g.vertices.where(F.col("id") % 29 == 0).select("id")
    df = closeness_centrality(g, nodes)
    return df.select("id", F.round("closeness", ROUND).alias("closeness"))


def _q_harmonic_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.closeness import harmonic_centrality

    g = _web(spark, sf_dir)
    nodes = g.vertices.where(F.col("id") % 29 == 0).select("id")
    df = harmonic_centrality(g, nodes)
    return df.select("id", F.round("harmonic", ROUND).alias("harmonic"))


def _q_betweenness_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source Brandes (Brandes-Pich estimator, normalized)."""
    from graphina_spark.operators.betweenness import betweenness_centrality

    g = _web(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 149 == 0).select("id")
    df = betweenness_centrality(g, sources=srcs, normalized=True)
    return df.select("id", F.round("betweenness", ROUND).alias("betweenness"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_edge_betweenness_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source edge betweenness (betweenness.rs:160-255)."""
    from graphina_spark.operators.betweenness import edge_betweenness_centrality

    g = _web(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 149 == 0).select("id")
    df = edge_betweenness_centrality(g, sources=srcs, normalized=True)
    return df.select(
        "src", "dst", F.round("betweenness", ROUND).alias("betweenness")
    )


def _q_dist_metrics_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact diameter/radius/APL on the undirected web view
    (graph_metrics.rs:40-98,:224-255 contract, NULLs when disconnected).
    All-pairs state is O(V²) — gate-scale exact mode; the 100-TB path is
    anf_web below."""
    from graphina_spark.graph import LinkGraph
    from graphina_spark.operators.distmetrics import distance_metrics

    g = _web(spark, sf_dir)
    und = LinkGraph(vertices=g.vertices, edges=g.edges, directed=False)
    df = distance_metrics(und, max_depth=8)
    return df.select(
        "diameter",
        "radius",
        F.round("avg_path_length", ROUND).alias("avg_path_length"),
    )


def _q_anf_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF/Flajolet-Martin sketch curve, fixed 8 rounds, integer
    register-mass readout (Σ lowest-zero-bit over all registers) — a
    float-free quantity that pins the whole sketch bit-for-bit against the
    DuckDB twin."""
    from graphina_spark.operators.distmetrics import anf_neighborhood_function

    return anf_neighborhood_function(
        _web(spark, sf_dir), k=8, fixed_rounds=8, readout="raw"
    )


def _q_approx_dist_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF readouts (effective diameter at q=0.9, APL) from the same
    8-round sketch anf_web pins bit-exactly; outputs pre-rounded to 4 dp so
    engine-specific float summation order over the curve cannot flip the
    6-dp gate."""
    from graphina_spark.operators.distmetrics import approx_distance_metrics

    return approx_distance_metrics(
        _web(spark, sf_dir), k=8, fixed_rounds=8, round_to=4
    )


APPROX_ROUNDS = 8  # probed past Luby/matching convergence at sf0.01


def _q_mis_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby maximal independent set on the undirected web view
    (independent_set.rs contract; fixed rounds so the DuckDB twin unrolls
    the identical schedule)."""
    from graphina_spark.operators.approximation import maximal_independent_set

    return maximal_independent_set(_web(spark, sf_dir), rounds=APPROX_ROUNDS)


def _q_wl_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-WL color refinement digests (structural fingerprints) after 3
    rounds over the undirected web view."""
    from graphina_spark.operators.wl import wl_refinement

    return wl_refinement(_web(spark, sf_dir), rounds=3)


def _q_wl_drift_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural drift between the base crawl and the recrawl: L1 distance
    of the 3-round WL color histograms (integer readouts)."""
    from graphina_spark.operators.wl import wl_histogram_drift
    from graphina_spark.sources.derived import web_graph_recrawl

    return wl_histogram_drift(
        _web(spark, sf_dir), web_graph_recrawl(spark, sf_dir), rounds=3
    )


def _q_ck_curve_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C(k) degree-dependent clustering curve (hierarchical-modularity
    signature, Ravasz-Barabasi 2003)."""
    from graphina_spark.operators.triangles import clustering_by_degree

    return clustering_by_degree(_web(spark, sf_dir))


def _q_squares_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-cycle census over the undirected web view (diagonal formula over
    the hub-capped wedge kernel — the unipartite butterfly count)."""
    from graphina_spark.operators.metrics import square_count

    return square_count(_web(spark, sf_dir))


def _q_triad_census_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holland-Leinhardt 16-type triad census of the directed web graph
    (Batagelj-Mrvar complement method: degree-ordered triangle join +
    per-middle wedge combinatorics + per-dyad singles arithmetic; no
    all-pairs enumeration — see operators/triads.py)."""
    from graphina_spark.operators.triads import triad_census

    return triad_census(_web(spark, sf_dir))


def _q_push_ppr_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched forward-push PPR (Andersen-Chung-Lang) from uniform seeds
    {id % 200 == 0}, threshold-free gate variant (operators/pushppr.py)."""
    from graphina_spark.operators.pushppr import forward_push_ppr

    g = _web(spark, sf_dir)
    seeds = g.vertices.where(F.col("id") % 200 == 0).select(
        "id", F.lit(1.0).alias("mass")
    )
    return forward_push_ppr(g, seeds, alpha=0.15, eps=0.0, rounds=6)


def _q_hitting_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated expected hitting time (Sarkar-Moore) to the target set
    {id % 100 == 0}, horizon 6 (operators/hitting.py)."""
    from graphina_spark.operators.hitting import truncated_hitting_time

    g = _web(spark, sf_dir)
    targets = g.vertices.where(F.col("id") % 100 == 0).select("id")
    return truncated_hitting_time(g, targets, horizon=6)


def _q_core_track_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core-shell evolution between the base crawl and its recrawl:
    track_partitions over two coreness labelings
    (operators/tracking.py; snapshot pair of sources/derived.py)."""
    from graphina_spark.operators.kcore import core_number
    from graphina_spark.operators.tracking import track_partitions
    from graphina_spark.sources.derived import web_graph_recrawl

    a = core_number(_web(spark, sf_dir), fixed_rounds=CORENESS_ROUNDS)
    b = core_number(web_graph_recrawl(spark, sf_dir), fixed_rounds=CORENESS_ROUNDS)
    return track_partitions(
        a.withColumnRenamed("core", "community"),
        b.withColumnRenamed("core", "community"),
    )


def _q_cascade_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic linear-threshold cascade (bootstrap percolation) from
    seeds {id % 50 == 0}, theta = 1/3, 6 rounds (operators/cascade.py)."""
    from graphina_spark.operators.cascade import linear_threshold_cascade

    g = _web(spark, sf_dir)
    seeds = g.vertices.where(F.col("id") % 50 == 0).select("id")
    return linear_threshold_cascade(
        g, seeds, theta_num=1, theta_den=3, rounds=6
    ).select("id", F.col("r").cast("int").alias("r"))


def _q_spreading_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label spreading (Zhou 2004) from seeds {id % 50 == 0} with
    cls = id % 3, alpha=0.8, 5 supersteps (operators/spreading.py)."""
    from graphina_spark.operators.spreading import label_spreading

    g = _web(spark, sf_dir)
    seeds = g.vertices.where(F.col("id") % 50 == 0).select(
        "id", (F.col("id") % 3).alias("cls")
    )
    return label_spreading(g, seeds, alpha=0.8, fixed_iters=5)


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned over the documents corpus (distributed
    word-level trainer, double-space symbol strings, literal-replace merge
    application — operators/bpe.py)."""
    from graphina_spark.operators.bpe import learn_bpe_merges

    return learn_bpe_merges(_docs(spark, sf_dir), merges=8)


def _q_freq_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus 1/500-heavy tokens via two-pass Misra–Gries (per-partition
    k-counter sketches -> exact verify of the candidate union; output is
    the exact heavy set — operators/freqitems.py)."""
    from graphina_spark.operators.freqitems import frequent_tokens

    return frequent_tokens(_docs(spark, sf_dir), num=1, den=500)


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: distinct k-token-gram overlap between the
    train split (doc_id % 97 != 0) and the bench split (doc_id % 97 == 0)
    of the documents corpus (operators/contamination.py).  k=4 at gate
    scale — the synthetic corpus shares no spans ≥ 6 tokens; production
    default is 8."""
    from graphina_spark.operators.contamination import ngram_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return ngram_contamination(train, bench, k=4)


def _q_structdup_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural near-duplicate pages (mirror/template detection) via
    banded neighbourhood MinHash + exact Jaccard verify
    (operators/structdup.py)."""
    from graphina_spark.operators.structdup import structural_dup_pairs

    # threshold 0.125: the synthetic crawl's strongest structural overlaps
    # sit at Jaccard 1/3 (shared multiplier targets) — the production
    # default 0.5 would gate an always-empty frame, which proves nothing
    return structural_dup_pairs(_web(spark, sf_dir), min_jaccard=0.125)


def _q_topic_pagerank_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched topic-sensitive PageRank (Haveliwala 2002): 3 topic seed
    sets advanced in ONE superstep loop — one gather shuffle per step for
    all topics, sparse (topic, id) rank rows (operators/topicrank.py)."""
    from graphina_spark.operators.topicrank import topic_sensitive_pagerank

    g = _web(spark, sf_dir)
    topics = g.vertices.select(
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("topic"),
        "id",
    ).where(F.col("id") % 40 == F.col("topic")).select(
        "topic", "id", F.lit(1.0).alias("p")
    )
    return topic_sensitive_pagerank(g, topics, fixed_iters=5)


def _q_simrank_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo SimRank (Jeh-Widom via Fogaras-Racz coupled reverse
    walks, deterministic portable-hash hops) over co-cited page pairs —
    see operators/simrank.py."""
    from graphina_spark.operators.simrank import cocited_pairs, simrank_scores

    g = _web(spark, sf_dir)
    return simrank_scores(g, cocited_pairs(g), steps=4, replicates=6)


def _q_coloring_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jones-Plassmann greedy coloring, fixed rounds (partial coloring is
    the deterministic contract at a fixed round count; fixpoint properness
    and the Delta+1 bound are pinned in tests/test_coloring.py)."""
    from graphina_spark.operators.coloring import greedy_coloring

    return greedy_coloring(_web(spark, sf_dir), rounds=APPROX_ROUNDS)


def _q_matching_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Israeli-Itai maximal matching (matching.rs contract)."""
    from graphina_spark.operators.approximation import maximal_matching

    return maximal_matching(_web(spark, sf_dir), rounds=APPROX_ROUNDS)


def _q_vertex_cover_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matching-based 2-approx vertex cover (vertex_cover.rs problem
    contract; deliberate algorithm deviation documented in
    operators/approximation.py)."""
    from graphina_spark.operators.approximation import vertex_cover

    return vertex_cover(_web(spark, sf_dir), rounds=APPROX_ROUNDS)


def _q_large_clique_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy clique witness (clique.rs:80+ contract)."""
    from graphina_spark.operators.approximation import large_clique

    return large_clique(_web(spark, sf_dir), max_rounds=APPROX_ROUNDS)


def _q_edge_list_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the web graph as an edge-list text file, read it back through
    sources/io.py::read_edge_list, return the recovered (src, dst, weight)
    — the oracle is the original derived edge set, so the gate pins the
    text format end-to-end (io.rs:59-122 semantics)."""
    import tempfile

    from graphina_spark.sources.io import read_edge_list, write_edge_list

    g = _web(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="graphina_elist_") + "/edges"
    write_edge_list(g, path)
    g2 = read_edge_list(spark, path, directed=True)
    return g2.edges.select("src", "dst", "weight")


def _q_generators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shape, src, dst) edge sets of the deterministic generators vs their
    closed forms (seeded-RNG shapes excluded — RNG streams cannot match
    across engines; their determinism is pinned in pytest instead)."""
    from graphina_spark.sources.generators import (
        complete_graph,
        cycle_graph,
        path_graph,
        star_graph,
    )

    n = 60
    parts = [
        ("complete", complete_graph(spark, n)),
        ("star", star_graph(spark, n)),
        ("cycle", cycle_graph(spark, n)),
        ("path", path_graph(spark, n)),
    ]
    out = None
    for shape, g in parts:
        e = g.edges.select(
            F.lit(shape).alias("shape"),
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
        )
        out = e if out is None else out.unionAll(e)
    return out


def _q_connectivity_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local node connectivity on a theta graph (8 disjoint 2-paths between
    0 and 1) — semantic closed-form oracle (connectivity.rs:57-102)."""
    from graphina_spark.graph import LinkGraph
    from graphina_spark.operators.connectivity import local_node_connectivity

    ids = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").cast("long").alias("id")
    )
    rows = [(0, m, 1.0) for m in range(2, 10)] + [(m, 1, 1.0) for m in range(2, 10)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    g = LinkGraph(vertices=ids, edges=edges, directed=False)
    out = [
        (s, t, local_node_connectivity(g, s, t))
        for s, t in [(0, 1), (2, 3), (0, 10), (5, 5)]
    ]
    return spark.createDataFrame(
        out, "source long, target long, connectivity long"
    )


def _q_girvan_newman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Girvan-Newman on the bridged-cliques fixture: split the chained
    blocks back apart by removing the (maximal-betweenness) bridges until
    every clique is its own community (girvan_newman.rs:22-120 rule)."""
    from graphina_spark.operators.girvan_newman import girvan_newman
    from graphina_spark.sources.derived import CLIQUE_BLOCK, bridged_cliques_graph

    g = bridged_cliques_graph(spark, sf_dir)
    n = g.vertices.count()
    target = (n + CLIQUE_BLOCK - 1) // CLIQUE_BLOCK
    return girvan_newman(g, target_communities=target, max_removals=4)


def _q_spectral_clique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIC spectral clustering must recover the planted clique-block
    partition — a semantic gate (oracle = ground truth, not a mirror)."""
    from graphina_spark.operators.spectral import spectral_clusters
    from graphina_spark.sources.derived import CLIQUE_BLOCK, clique_blocks_graph

    g = clique_blocks_graph(spark, sf_dir)
    n = g.vertices.count()
    k = (n + CLIQUE_BLOCK - 1) // CLIQUE_BLOCK
    return spectral_clusters(g, k=k, iters=5)


def _q_pic_clique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIC embedding values after 5 fixed power-normalize steps (mirrored
    DuckDB twin pins the superstep arithmetic)."""
    from graphina_spark.operators.spectral import pic_embedding
    from graphina_spark.sources.derived import clique_blocks_graph

    df = pic_embedding(clique_blocks_graph(spark, sf_dir), iters=5)
    return df.select("id", F.round("score", ROUND).alias("score"))


def _q_events_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal co-occurrence edges from the events table (tumbling-window
    user pairs, tz-proof min-anchored epoch bucketing)."""
    from graphina_spark.sources.derived import events_cooccurrence_graph

    g = events_cooccurrence_graph(spark, sf_dir)
    return g.edges.select("src", "dst", "weight")


def _q_pagerank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end events pipeline: events → temporal co-occurrence graph →
    weighted PageRank (dangling users exercise the mass-redistribution
    path).  Oracle reuses the parametrized PageRank CTE builder over
    EVENTS_EDGES_CTE."""
    from graphina_spark.operators.pagerank import pagerank
    from graphina_spark.sources.derived import events_cooccurrence_graph

    g = events_cooccurrence_graph(spark, sf_dir)
    g.edges = g.edges.transform(_mat)
    pr = pagerank(g, damping=0.85, fixed_iters=5, tol=None)
    return pr.select("id", F.round("rank", ROUND).alias("pr"))


def _q_validation_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row of validation predicates (core/validation.rs:16-410 family);
    each predicate is a distributed aggregation — only the final booleans
    land on the driver."""
    from graphina_spark.operators import validation as V

    g = _web(spark, sf_dir)
    row = (
        V.is_dag(g),
        V.has_self_loops(g),
        V.has_negative_weights(g),
        V.is_bipartite(g),
        V.count_components(g),
    )
    return spark.createDataFrame(
        [row],
        "is_dag boolean, has_self_loops boolean, has_negative_weights boolean,"
        " is_bipartite boolean, n_components long",
    )


def _q_clique_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded clique removal on the clique-blocks fixture: equal-size
    blocks force the greedy argmax to peel the lowest-id block each round —
    closed-form oracle (clique.rs:57-77 contract)."""
    from graphina_spark.operators.approximation import clique_removal
    from graphina_spark.sources.derived import clique_blocks_graph

    return clique_removal(clique_blocks_graph(spark, sf_dir), max_cliques=3)


def _q_densest_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bahmani parallel-peeling densest subgraph (subgraph.rs problem
    contract, distributed schedule)."""
    from graphina_spark.operators.approximation import densest_subgraph

    return densest_subgraph(_web(spark, sf_dir), epsilon=0.1, rounds=16)


def _q_ramsey_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clique + independent-set pairing (ramsey.rs:5-12)."""
    from graphina_spark.operators.approximation import ramsey_r2

    return ramsey_r2(_web(spark, sf_dir), rounds=APPROX_ROUNDS)


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k (sampled-centroid coarse quantizer,
    n_probe inverted lists, exact rerank) — the third ANN path beside
    brute force and hyperplane LSH."""
    from graphina_spark.operators.ann import ivf_cosine_topk

    df = ivf_cosine_topk(
        _embs(spark, sf_dir), k=5, n_centroids=16, n_probe=2, lloyd_iters=0
    )
    return df.select(
        "query_id", "neighbor_id", F.round("cosine", ROUND).alias("cosine"), "rank"
    )


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the hardened LSH candidate
    path (canonical a<b dedup-pair contract; threshold tuned to the
    synthetic corpus whose max pairwise cosine is ~0.51)."""
    from graphina_spark.operators.ann import embedding_neardup_pairs

    df = embedding_neardup_pairs(
        _embs(spark, sf_dir), threshold=0.4, planes=6, tables=2, max_bucket=4096
    )
    return df.select("a", "b", F.round("cosine", ROUND).alias("cosine"))


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.functions.textstats import with_text_stats

    return with_text_stats(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_tokens",
        "punct",
        "lang_pred",
        F.round("quality", ROUND).alias("quality"),
        "fingerprint",
    )


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction counts + scrubbed-text md5 over deterministically
    planted contacts (functions/pii.py)."""
    from graphina_spark.functions.pii import pii_scrub, plant_pii

    return pii_scrub(plant_pii(_docs(spark, sf_dir)))


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document line dedup: fixed-width token windows,
    corpus-wide frequency rule, md5-pinned reassembly (operators/linededup.py)."""
    from graphina_spark.operators.linededup import line_dedup

    return line_dedup(_docs(spark, sf_dir))


def _q_len_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact doc-length deciles via histogram + two-pass global prefix sum
    + integer rank rule (operators/quantiles.py)."""
    from graphina_spark.operators.quantiles import exact_quantiles

    return exact_quantiles(_docs(spark, sf_dir), "n_chars")


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.dedup import ngram_jaccard_pairs

    df = ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.2)
    return df.select("a", "b", F.round("jaccard", ROUND).alias("jaccard"))


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.dedup import minhash_lsh_pairs

    df = minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.2)
    return df.select("a", "b", F.round("jaccard", ROUND).alias("jaccard"))


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.dedup import simhash_sketches

    return simhash_sketches(_docs(spark, sf_dir))


def _q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.ann import cosine_topk

    df = cosine_topk(_embs(spark, sf_dir), k=5)
    return df.select(
        "query_id", "neighbor_id", F.round("cosine", ROUND).alias("cosine"), "rank"
    )


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hardened LSH path: 2-table OR-construction + per-bucket id-rank cap
    (planes pinned so the DuckDB twin embeds the identical hyperplanes)."""
    from graphina_spark.operators.ann import lsh_cosine_topk

    df = lsh_cosine_topk(
        _embs(spark, sf_dir), k=5, planes=6, tables=2, max_bucket=32
    )
    return df.select(
        "query_id", "neighbor_id", F.round("cosine", ROUND).alias("cosine"), "rank"
    )


def _q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the hardened LSH configuration vs exact brute force —
    the shippability readout for the at-scale ANN path."""
    from graphina_spark.operators.ann import lsh_recall

    return lsh_recall(_embs(spark, sf_dir), k=5, planes=6, tables=2, max_bucket=32)


def _q_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision: MinHash-LSH candidate pairs → hash-min
    connected components → (id, group_id, keep)."""
    from graphina_spark.operators.dedup import minhash_lsh_pairs, neardup_groups

    docs = _docs(spark, sf_dir)
    return neardup_groups(docs, minhash_lsh_pairs(docs, threshold=0.2))


def _q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive supervision mining: 'pos' rows = LSH near-dup pairs
    (cosine ≥ 0.4 on this corpus), 'neg' rows = top-3 hardest (highest
    cosine) neighbors OUTSIDE the anchor's near-dup group, re-ranked after
    the group filter from a k+margin candidate list (bound mirrored in the
    oracle)."""
    from graphina_spark.operators.contrastive import contrastive_pairs

    df = contrastive_pairs(_embs(spark, sf_dir), pos_threshold=0.4, k_neg=3)
    return df.select(
        "anchor", "other", "kind", F.round("score", ROUND).alias("score"),
        "rank",
    )


def _q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher hard-filter rule family (Rae et al. 2021
    §A1.1): word-count/word-length bounds, symbol + bullet + ellipsis
    ratios, alpha-word fraction, required-stopword presence, and the
    combined pass flag — zero-shuffle column expressions."""
    from graphina_spark.operators.curation import gopher_rules

    return gopher_rules(_docs(spark, sf_dir))


def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: dedup survivors -> bench carve-out -> quality
    filter -> decontamination, composed from the individually-gated
    stages (operators/curation.py)."""
    from graphina_spark.operators.curation import curation_pipeline

    return curation_pipeline(
        _docs(spark, sf_dir), contam_k=4, **FILTER_ARGS
    )


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: keep the best-quality doc per
    near-dup group (argmax textstats quality, ties to min id)."""
    from graphina_spark.operators.dedup import dedup_keep_best, minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    return dedup_keep_best(docs, minhash_lsh_pairs(docs, threshold=0.2))


KCORE_K = 5
KCORE_ROUNDS = 8
CORENESS_ROUNDS = 14  # converges in 12 at sf0.01; fixed on both sides


def _q_kcore_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.kcore import k_core

    return k_core(_web(spark, sf_dir), k=KCORE_K, fixed_rounds=KCORE_ROUNDS)


def _q_coreness_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.kcore import core_number

    return core_number(_web(spark, sf_dir), fixed_rounds=CORENESS_ROUNDS)


HITS_ITERS = 5
WALK_LEN = 3
WALKS_PER_NODE = 2


def _q_walks_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.walks import random_walks

    return random_walks(
        _web(spark, sf_dir), length=WALK_LEN, walks_per_node=WALKS_PER_NODE
    )


def _q_hits_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.hits import hits

    df = hits(_web(spark, sf_dir), fixed_iters=HITS_ITERS)
    return df.select(
        "id",
        F.round("hub", ROUND).alias("hub"),
        F.round("authority", ROUND).alias("authority"),
    )


CONTRACT_MOD = 50
TRUSS_K = 3
TRUSS_ROUNDS = 3  # converges in 1 at sf0.01; fixed on both sides


def _q_ktruss_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.truss import k_truss

    return k_truss(_web(spark, sf_dir), k=TRUSS_K, fixed_rounds=TRUSS_ROUNDS)


def _q_contract_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.coarsen import contract_vertices

    g = _web(spark, sf_dir)
    mapping = g.vertices.select(
        "id", (F.col("id") % CONTRACT_MOD).alias("group")
    )
    q = contract_vertices(g, mapping)
    return q.edges.select(
        "src", "dst", F.round("weight", ROUND).alias("weight")
    )


def _q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import deterministic_split

    return deterministic_split(_docs(spark, sf_dir))


FILTER_ARGS = dict(min_tokens=40, min_quality=0.1, langs=["en", "de", "fr"])
NGRAM_N = 2
NGRAM_K = 30


def _q_doc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import filter_corpus

    df = filter_corpus(_docs(spark, sf_dir), **FILTER_ARGS)
    return df.select(
        "id",
        "n_tokens",
        F.round("quality", ROUND).alias("quality"),
        "lang_pred",
        "keep",
        "reject_reason",
    )


def _q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import vocab_stats

    return vocab_stats(_docs(spark, sf_dir))


def _q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import top_ngrams

    return top_ngrams(_docs(spark, sf_dir), n=NGRAM_N, k=NGRAM_K)


def _q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """html → Arrow anchor-parsing UDF → per-target anchor-text index
    (the classic anchor-text ranking signal, aggregated by resolved href)."""
    from graphina_spark.functions.extract import parse_anchors_udf
    from graphina_spark.sources.derived import pages_from_customer

    pages = pages_from_customer(spark, sf_dir)
    anch = pages.select(
        F.explode(parse_anchors_udf(F.col("html"), F.col("url"))).alias("a")
    )
    return anch.groupBy(F.col("a.href").alias("dst_url")).agg(
        F.count("*").alias("n_anchors"),
        F.countDistinct("a.text").alias("n_texts"),
        F.min("a.text").alias("top_text"),
    )


SEMDEDUP_T = 0.3


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.kmeans import semdedup_pairs

    df = semdedup_pairs(
        _embs(spark, sf_dir), k=KMEANS_K, iters=KMEANS_ITERS, threshold=SEMDEDUP_T
    )
    return df.select("a", "b", "cluster", F.round("cosine", ROUND).alias("cosine"))


TOP_PER_HOST = 3
CRAWL_BUDGET = 100
BLOOM_BITS = 4096


def _q_bloom_seen_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-dedup Bloom filter: build from the seen half of the vertex
    set, probe all ids; hits (incl. false positives) are hash-deterministic
    and bit-identical across engines (operators/bloom.py)."""
    from graphina_spark.operators.bloom import bloom_membership

    # undersized filter on purpose: the gate must EXERCISE false positives
    # (and pin each one bit-exactly), not just the all-clear path
    return bloom_membership(_web(spark, sf_dir).vertices, m_bits=BLOOM_BITS)


TOPO_ROUNDS = 12


def _q_topo_layers_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path depth capped at K rounds over the id-oriented DAG —
    the Spark-shaped member of the DFS-order family (operators/topo.py)."""
    from graphina_spark.operators.topo import topo_layers

    return topo_layers(_web(spark, sf_dir), rounds=TOPO_ROUNDS)


def _q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next recrawl batch: integer authority×staleness priority, per-host
    politeness cap, global fetch budget (operators/crawl.py)."""
    from graphina_spark.operators.crawl import crawl_schedule

    return crawl_schedule(
        _web(spark, sf_dir),
        host_mod=HOST_MOD,
        per_host=TOP_PER_HOST,
        budget=CRAWL_BUDGET,
    )


def _q_top_pages_per_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k pages by in-link weight within each host (the per-group top-k
    crawl readout; deterministic tie-break on id).  One aggregation + one
    per-host window — the window state is one host's pages."""
    g = _web(spark, sf_dir)
    from pyspark.sql import Window

    indeg = g.edges.groupBy(F.col("dst").alias("id")).agg(
        F.sum("weight").alias("w_in")
    )
    hosted = indeg.withColumn("host", (F.col("id") % HOST_MOD).cast("long"))
    w = Window.partitionBy("host").orderBy(F.desc("w_in"), F.asc("id"))
    return (
        hosted.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_PER_HOST)
        .select("host", "id", "w_in", F.col("rnk").cast("int").alias("rnk"))
    )


KMEANS_K = 8
KMEANS_ITERS = 2


def _q_kmeans_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.kmeans import kmeans

    return kmeans(_embs(spark, sf_dir), k=KMEANS_K, iters=KMEANS_ITERS).select(
        "id", F.col("cluster").cast("int").alias("cluster")
    )


STRATA_FRACS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}


def _q_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    return stratified_sample(docs, "source", STRATA_FRACS).select(
        "doc_id", "source"
    )


def _q_canon_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-v1 url canonicalization over deterministically messy urls;
    the oracle is the CLOSED-FORM expected string, not a mirrored regex."""
    from graphina_spark.functions.urls import canonical_url

    ids = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").cast("long").alias("id")
    )
    messy = F.concat(
        F.lit("HTTP://WwW.Site"),
        (F.col("id") % 7).cast("string"),
        F.lit(".COM:80/p/"),
        F.col("id").cast("string"),
        F.when(
            F.col("id") % 3 == 0, F.lit("?utm_source=a&utm_medium=b")
        ).otherwise(
            F.concat(F.lit("?utm_source=s&q="), (F.col("id") % 5).cast("string"))
        ),
        F.lit("#sec"),
    )
    return ids.select("id", canonical_url(messy).alias("curl"))


REDIR_MOD = 8  # synthetic 301 chains: id -> id-1, terminals at id % 8 == 0


def _q_redirects_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointer-jumped redirect-chain resolution on synthetic 301 chains
    (id → id−1 until the next multiple of 8): final = id − (id % 8)."""
    from graphina_spark.operators.redirects import resolve_redirects

    ids = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").cast("long").alias("id")
    )
    redirects = ids.where(F.col("id") % REDIR_MOD != 0).select(
        F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
    )
    return resolve_redirects(redirects)


COCIT_MIN = 2  # pair-count floor for the co-citation/coupling gates


def _q_cocitation_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.cocitation import co_citation

    return co_citation(_web(spark, sf_dir), min_count=COCIT_MIN)


def _q_coupling_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.cocitation import bibliographic_coupling

    return bibliographic_coupling(_web(spark, sf_dir), min_count=COCIT_MIN)


TRUST_SEEDS_BELOW = 16  # the 16 hub pages are the vetted seed set


def _q_spam_mass_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.trustrank import spam_mass

    g = _web(spark, sf_dir)
    seeds = g.vertices.where(F.col("id") < TRUST_SEEDS_BELOW).select("id")
    df = spam_mass(g, seeds, damping=0.85, fixed_iters=5, tol=None)
    return df.select(
        "id",
        F.round("pr", ROUND).alias("pr"),
        F.round("tr", ROUND).alias("tr"),
        F.round("spam_mass", ROUND).alias("spam_mass"),
    )


HOST_MOD = 64  # synthetic host fan: h{id % 64}.example.com


def _q_host_graph_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.hostgraph import host_links

    g = _web(spark, sf_dir)
    pages = g.vertices.select(
        "id",
        F.format_string(
            "https://h%d.example.com/p/%d", F.col("id") % HOST_MOD, F.col("id")
        ).alias("url"),
    )
    return host_links(pages, g.edges)


SALSA_ITERS = 4


def _q_salsa_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.salsa import salsa

    df = salsa(_web(spark, sf_dir), fixed_iters=SALSA_ITERS)
    return df.select(
        "id",
        F.round("hub", ROUND).alias("hub"),
        F.round("authority", ROUND).alias("authority"),
    )


RICH_CLUB_K = 6


def _q_rich_club_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import rich_club

    return rich_club(_web(spark, sf_dir), k=RICH_CLUB_K)


def _q_avg_nbr_deg_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import average_neighbor_degree

    return average_neighbor_degree(_web(spark, sf_dir))


def _q_wcc_sizes_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.components import component_size_histogram

    return component_size_histogram(_web(spark, sf_dir))


def _q_edge_sample_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import sample_edges

    return sample_edges(_web(spark, sf_dir), frac=0.3)


def _q_vertex_sample_sub_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import induced_sample_subgraph

    return induced_sample_subgraph(_web(spark, sf_dir), frac=0.5).edges.select(
        "src", "dst"
    )


def _q_reciprocity_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import reciprocity

    val = reciprocity(_web(spark, sf_dir))
    return spark.createDataFrame([(val,)], "reciprocity double")


def _q_degree_hist_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import degree_histogram

    return degree_histogram(_web(spark, sf_dir), kind="total")


def _q_host_distinct_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.cardinality import approx_distinct_by_key

    g = _web(spark, sf_dir)
    e = g.edges.select((F.col("src") % HOST_MOD).alias("host"), "dst")
    return approx_distinct_by_key(e, "host", "dst", k=8).withColumnRenamed(
        "key", "host"
    )


def _q_eccentricity_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.paths import eccentricity

    g = _web(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 97 == 0).select("id")
    return eccentricity(g, srcs, max_depth=12)


def _q_seeded_lpa_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.lpa import seeded_label_propagation

    g = _web(spark, sf_dir)
    seeds = g.vertices.where(F.col("id") % 97 == 0).select(
        "id", F.col("id").alias("label")
    )
    return seeded_label_propagation(g, seeds, fixed_iters=4)


def _q_neg_edges_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.links import negative_edges

    return negative_edges(_web(spark, sf_dir), per_node=3, oversample=4)


def _q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.substrings import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), size=32, stride=24)


def _q_zipf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import zipf_fit

    return zipf_fit(_docs(spark, sf_dir), top_n=100)


def _q_two_sweep_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.distmetrics import two_sweep_lower_bound

    return two_sweep_lower_bound(_web(spark, sf_dir))


def _q_rank_drift_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.diff import rank_drift
    from graphina_spark.sources.derived import web_graph_recrawl

    return rank_drift(
        _web(spark, sf_dir), web_graph_recrawl(spark, sf_dir), fixed_iters=5
    )


def _q_rfm_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.rfm import rfm_scores

    return rfm_scores(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _q_st_dist_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.paths import bidirectional_distance

    g = _web(spark, sf_dir)
    pairs = (
        g.vertices.where(F.col("id") % 199 == 0)
        .select(F.col("id").alias("s"))
        .crossJoin(
            g.vertices.where(F.col("id") % 173 == 0).select(F.col("id").alias("t"))
        )
    )
    return bidirectional_distance(g, pairs, max_rounds=8)


def _q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import weighted_sample

    return weighted_sample(_docs(spark, sf_dir), k=50, weight_col="n_chars")


def _q_nbr_emb_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.smoothing import neighborhood_mean_embedding

    return neighborhood_mean_embedding(_web(spark, sf_dir), _embs(spark, sf_dir))


def _q_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.quantize import quantization_recall

    return quantization_recall(_embs(spark, sf_dir), k=5, query_mod=25)


def _q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.quantize import matryoshka_recall

    return matryoshka_recall(_embs(spark, sf_dir), k=5, dims=16, query_mod=25)


def _q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.quantize import pq_recall

    return pq_recall(_embs(spark, sf_dir), k=5, m=4, ks=16, iters=2, query_mod=25)


def _q_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.quantize import opq_recall

    return opq_recall(
        _embs(spark, sf_dir), k=5, m=4, ks=16, iters=2, rounds=2, query_mod=25
    )


def _q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.ann import ivfpq_topk

    df = ivfpq_topk(
        _embs(spark, sf_dir), k=5, n_centroids=16, n_probe=2, m=4, ks=16, iters=2
    )
    return df.select(
        "query_id", "neighbor_id", F.round("cosine", ROUND).alias("cosine"), "rank"
    )


def _q_pca_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.pca import top_component

    return top_component(_embs(spark, sf_dir), iters=6)


def _q_silhouette_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.kmeans import centroid_silhouette

    return centroid_silhouette(_embs(spark, sf_dir), k=8, iters=2)


def _q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import source_divergence

    return source_divergence(_docs(spark, sf_dir))


def _q_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import mixture_plan

    return mixture_plan(
        _docs(spark, sf_dir),
        weights={"src0": 0.3, "src1": 0.2, "src5": 0.5, "srcX": 0.7},
        token_budget=1_000_000,
    )


def _q_powerlaw_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import powerlaw_alpha_mle

    return powerlaw_alpha_mle(_web(spark, sf_dir), kmin=5, kind="in")


def _q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import doc_repetition

    return doc_repetition(_docs(spark, sf_dir))


def _q_ari_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.lpa import label_propagation
    from graphina_spark.operators.partitions import adjusted_rand_index

    g = _block(spark, sf_dir)
    lpa = label_propagation(g, fixed_iters=4)
    planted = g.vertices.select("id", F.floor(F.col("id") / 100).cast("long").alias("label"))
    val = adjusted_rand_index(lpa, planted)
    return spark.createDataFrame([(round(val, ROUND),)], "ari double")


def _q_future_auc_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal link-prediction AUC: cn scores from the base crawl's
    structure, evaluated on the recrawl's genuinely new edges."""
    from graphina_spark.operators.links import future_link_auc
    from graphina_spark.sources.derived import web_graph_recrawl

    return future_link_auc(
        _web(spark, sf_dir), web_graph_recrawl(spark, sf_dir),
        per_node=3, oversample=4,
    )


def _q_nmi_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.lpa import label_propagation
    from graphina_spark.operators.partitions import normalized_mutual_information

    g = _block(spark, sf_dir)
    lpa = label_propagation(g, fixed_iters=4)
    planted = g.vertices.select("id", F.floor(F.col("id") / 100).cast("long").alias("label"))
    val = normalized_mutual_information(lpa, planted)
    return spark.createDataFrame([(round(val, ROUND),)], "nmi double")


def _q_linkpred_auc_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.links import link_prediction_auc

    return link_prediction_auc(_web(spark, sf_dir), per_node=3, oversample=4)


def _q_sweep_cut_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.cuts import sweep_cut

    g = _block(spark, sf_dir)
    scores = g.vertices.select("id", F.col("id").alias("score"))
    return sweep_cut(g, scores)


def _q_sweep_cut_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.cuts import sweep_cut

    g = _web(spark, sf_dir)
    scores = g.vertices.select("id", F.col("id").alias("score"))
    return sweep_cut(g, scores)


def _q_attr_assortativity_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import attribute_assortativity

    g = _web(spark, sf_dir)
    hosts = g.vertices.select("id", (F.col("id") % HOST_MOD).alias("label"))
    val = attribute_assortativity(g, hosts)
    return spark.createDataFrame([(round(val, ROUND),)], "attr_assortativity double")


def _q_conductance_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.cuts import community_cut_metrics

    g = _web(spark, sf_dir)
    hosts = g.vertices.select("id", (F.col("id") % HOST_MOD).alias("community"))
    return community_cut_metrics(g, hosts)


def _q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.substrings import duplicated_kgram_stats

    return duplicated_kgram_stats(_docs(spark, sf_dir), k=8)


def _q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.lmscore import lm_quality

    return lm_quality(_docs(spark, sf_dir))


def _q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.fingerprints import fingerprint_stats

    return fingerprint_stats(_docs(spark, sf_dir), k=5, w=4)


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.dsir import dsir_log_weights

    return dsir_log_weights(
        _docs(spark, sf_dir), F.col("source").isin("src0", "src1")
    )


def _q_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality-classifier inference: hashed
    unigram+bigram features, mean pooling, sigmoid; model-as-data weight
    table (md5-derived demo weights standing in for a trained model)."""
    from graphina_spark.operators.classify import classifier_scores, demo_weights

    return classifier_scores(
        _docs(spark, sf_dir), demo_weights(spark), bias=-0.05
    )


def _q_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch matrix over the corpus token stream — sparse
    integer (r, c, cnt) cells, bit-exact across engines."""
    from graphina_spark.operators.cms import cms_sketch

    return cms_sketch(_docs(spark, sf_dir))


def _q_cms_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS point estimates for the top-10 exact tokens (count desc, token
    asc): (token, exact_cnt, est) — est ≥ exact by construction."""
    from graphina_spark.functions.textstats import tokens_col
    from graphina_spark.operators.cms import cms_estimates

    docs = _docs(spark, sf_dir)
    tk = docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    exact = (
        tk.groupBy("token")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("token").asc())
        .limit(10)
    )
    est = cms_estimates(docs, exact.select("token"))
    return exact.join(est, "token").select("token", "exact_cnt", "est")


def _q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC plumbing gate: documents → valid WARC/1.0 segments (column-
    expression writer, one segment shuffle) → Arrow-batched distributed
    parse → byte-identical payloads (md5 + octet count vs the source)."""
    from graphina_spark.sources.warc import parse_warc, warc_segments

    parsed = parse_warc(warc_segments(_docs(spark, sf_dir), n_segments=8))
    return parsed.select(
        F.regexp_replace("target_uri", "^doc://", "").cast("long").alias("id"),
        F.md5("payload").alias("text_md5"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


def _q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import split_contamination

    return split_contamination(_docs(spark, sf_dir), k=3)


def _q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


def _q_bowtie_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.bowtie import bowtie_classification
    from graphina_spark.sources.derived import bowtie_graph

    g = bowtie_graph(spark, sf_dir)
    g.edges = g.edges.transform(_mat)
    return bowtie_classification(g)


def _q_bowtie_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.bowtie import bowtie_classification

    return bowtie_classification(_web(spark, sf_dir))


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.sampling import corpus_stats

    df = corpus_stats(_docs(spark, sf_dir))
    return df.select(
        "split",
        "n_docs",
        "total_tokens",
        F.round("avg_tokens", ROUND).alias("avg_tokens"),
        F.round("median_tokens", ROUND).alias("median_tokens"),
        F.round("avg_quality", ROUND).alias("avg_quality"),
    )


def _q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair PMI collocation scores over the documents corpus."""
    from graphina_spark.operators.pmi import pmi_bigrams

    return pmi_bigrams(_docs(spark, sf_dir), min_count=5)


def _q_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order clickstream Markov transitions within sessions
    (counts + row-normalized probabilities)."""
    from graphina_spark.operators.transitions import session_transitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_transitions(ev)


def _q_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle (first-touch cohorts, distinct
    active users per offset) — all-integer output."""
    from graphina_spark.operators.retention import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cohort_retention(ev, period_s=86_400)


def _q_asof_purchase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase attribution as-of join: every non-purchase event matched to
    the same user's most recent at-or-before purchase (backward-inclusive,
    left outer — DuckDB ASOF JOIN semantics, which IS the oracle).  One
    keyed shuffle total (union + carry-forward window)."""
    from graphina_spark.operators.asof import asof_join
    from graphina_spark.operators.sessions import ANCHOR

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.where(F.col("event_type") != "purchase").select(
        F.col("event_id").cast("long").alias("eid"),
        F.col("user_id").cast("long").alias("uid"),
        F.col("event_type").alias("etype"),
        F.col("ts"),
    )
    right = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("long").alias("uid"),
        F.col("ts"),
        F.col("event_id").cast("long").alias("eid"),
        F.col("value"),
    )
    j = asof_join(left, right, by="uid", value_cols=["eid", "value"], tie_break="eid")
    es = F.expr(f"timestampdiff(SECOND, {ANCHOR}, ts)")
    p_es = F.expr(f"timestampdiff(SECOND, {ANCHOR}, asof_ts)")
    return j.select(
        "eid",
        "uid",
        "etype",
        es.alias("es"),
        F.col("asof_eid").alias("purchase_eid"),
        F.round("asof_value", 6).alias("purchase_value"),
        (es - p_es).alias("lag_s"),
    )


def _q_range_purchase_ctx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window purchase context via the bucketized range join: per
    purchase, count + value-sum of the same user's non-purchase events in
    the preceding hour.  One (key, bucket) hash-join shuffle + one agg —
    never a per-key nested loop."""
    from graphina_spark.operators.rangejoin import point_in_interval_join
    from graphina_spark.operators.sessions import ANCHOR

    window_s = 3600
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").cast("long").alias("eid"),
        F.col("user_id").cast("long").alias("uid"),
        F.col("event_type").alias("etype"),
        "value",
        F.expr(f"timestampdiff(SECOND, {ANCHOR}, ts)").alias("es"),
    )
    pts = ev.where(F.col("etype") != "purchase").select(
        "uid",
        F.col("es").cast("double").alias("pes"),
        F.col("eid").alias("peid"),
        F.col("value").alias("pvalue"),
    )
    ivs = ev.where(F.col("etype") == "purchase").select(
        "uid",
        (F.col("es") - window_s).cast("double").alias("lo"),
        F.col("es").cast("double").alias("hi"),
        "eid",
        "es",
    )
    j = point_in_interval_join(
        pts, ivs, by="uid", point_col="pes", lo_col="lo", hi_col="hi",
        bucket=float(window_s), how="left",
    )
    return j.groupBy("eid", "uid", "es").agg(
        F.count("peid").alias("ctx_events"),
        F.round(F.coalesce(F.sum("pvalue"), F.lit(0.0)), 6).alias("ctx_value"),
    )


def _q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order first-touch funnel view→click→purchase per user
    (composite (epoch-s, event_id) order key; one min-agg per step)."""
    from graphina_spark.operators.funnel import funnel_stages

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_stages(ev, ["view", "click", "purchase"])


def _q_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contiguous sequence packing of the documents corpus
    (md5-shuffled order, exclusive global token prefix sums, seq spans)."""
    from graphina_spark.operators.packing import pack_documents

    return pack_documents(_docs(spark, sf_dir), seq_len=512)


def _q_graph_diff_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-to-crawl edge churn: web graph vs its deterministic recrawl
    snapshot (new ring discovered, 1/11 link rot) — kept/added/removed."""
    from graphina_spark.operators.diff import edge_diff
    from graphina_spark.sources.derived import web_graph, web_graph_recrawl

    return edge_diff(
        web_graph(spark, sf_dir), web_graph_recrawl(spark, sf_dir)
    )


def _q_dist_oracle_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark distance-oracle estimates: exact BFS index from id%59
    landmarks (forward + reversed), min-sum upper bound per query pair."""
    from graphina_spark.operators.distoracle import landmark_distance_estimates

    g = _web(spark, sf_dir)
    n = g.num_vertices()
    landmarks = g.vertices.where(F.col("id") % 59 == 0).select("id")
    pairs = g.vertices.select(
        F.col("id").alias("src"),
        ((F.col("id") * 13 + 7) % F.lit(n)).alias("dst"),
    )
    return landmark_distance_estimates(g, landmarks, pairs, max_depth=6)


def _q_node2vec_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic node2vec second-order walks (uniform first hop, exact
    integer inverse-CDF bias p=2/q=2 scaled to (1,2,1)) on the web graph."""
    from graphina_spark.operators.walks import node2vec_walks

    g = _web(spark, sf_dir)
    return node2vec_walks(
        g, length=3, walks_per_node=1, w_return=1, w_common=2, w_far=1
    )


def _q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over events: one keyed-window shuffle, then
    a reuse-partitioning groupBy — all-integer output."""
    from graphina_spark.operators.sessions import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_stats(ev)


def _q_butterflies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user butterfly counts (bipartite 4-cycles) over the capped
    (uid, window) incidence shared with events_graph."""
    from graphina_spark.operators.butterflies import user_butterflies

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return user_butterflies(ev)


def _q_bm25_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical scores for a fixed mixed-df query over the documents
    corpus (Lucene non-negative idf; frozen token convention)."""
    from graphina_spark.operators.retrieval import bm25_scores

    docs = _docs(spark, sf_dir)
    s = bm25_scores(docs, ["dup", "spark", "vector"])
    return s.select("doc_id", F.round("score", ROUND).alias("score"))


def _q_forman_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented Forman–Ricci curvature per undirected simple edge
    (integer-exact: 4 - du - dv + 3*support)."""
    from graphina_spark.operators.egonet import forman_curvature

    return forman_curvature(_web(spark, sf_dir))


def _q_embeddedness_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge embeddedness (common-neighbor count + neighborhood overlap)."""
    from graphina_spark.operators.egonet import edge_embeddedness

    e = edge_embeddedness(_web(spark, sf_dir))
    return e.select("src", "dst", "cn", F.round("overlap", ROUND).alias("overlap"))


def _q_ego_stats_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex ego-network stats: scan-1 statistic, Burt effective size."""
    from graphina_spark.operators.egonet import ego_stats

    s = ego_stats(_web(spark, sf_dir))
    return s.select(
        "id",
        "deg",
        "tri",
        "scan1",
        F.round("effective_size", ROUND).alias("effective_size"),
        F.round("efficiency", ROUND).alias("efficiency"),
    )


def _q_burt_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burt's network constraint (unweighted, triangle-bounded enumeration)."""
    from graphina_spark.operators.egonet import burt_constraint

    c = burt_constraint(_web(spark, sf_dir))
    return c.select("id", F.round("constraint", ROUND).alias("burt_c"))


def _q_backbone_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disparity-filter multiscale backbone of the weighted directed graph."""
    from graphina_spark.operators.egonet import disparity_backbone

    b = disparity_backbone(_web(spark, sf_dir), alpha_cut=0.5)
    return b.select("src", "dst", F.round("alpha", ROUND).alias("alpha"))


def _q_s_core_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted s-core (strength-peeling) survivors at s=15 after exactly
    12 synchronous peel rounds (fixed-round contract; cascade still active
    at the cap, which the oracle replays exactly)."""
    from graphina_spark.operators.kcore import s_core

    return s_core(_web(spark, sf_dir), s=15.0, fixed_rounds=12)


def _q_khop_frontier_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop sampled GraphSAGE computation graph (k1=3, k2=2) per root."""
    from graphina_spark.operators.gnnprep import sample_khop_frontier

    return sample_khop_frontier(_web(spark, sf_dir), k1=3, k2=2, directed=False)


def _q_config_model_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic configuration-model draw (degree-preserving null
    graph): canonical edge multiset with multiplicities."""
    from graphina_spark.operators.nullmodel import configuration_model

    return configuration_model(_web(spark, sf_dir), seed=0)


def _q_null_delta_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity: real graph vs configuration-model null draw
    (same degree sequence) — the beyond-degree structure readout."""
    from graphina_spark.operators.nullmodel import assortativity_null_delta

    df = assortativity_null_delta(_web(spark, sf_dir), seed=0)
    return df.select(
        F.round("real_r", ROUND).alias("real_r"),
        F.round("null_r", ROUND).alias("null_r"),
        F.round("delta", ROUND).alias("delta"),
    )


def _q_balanced_part_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-constrained balanced-LPA partition assignment (k=8,
    4 synchronous rounds, 10% slack) — the executor-placement operator."""
    from graphina_spark.operators.balance import balanced_partition

    return balanced_partition(_web(spark, sf_dir), k=8, fixed_rounds=4)


def _q_part_quality_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut fraction + balance envelope of the balanced-LPA assignment."""
    from graphina_spark.operators.balance import balanced_partition, partition_quality

    g = _web(spark, sf_dir)
    a = balanced_partition(g, k=8, fixed_rounds=4)
    q = partition_quality(g, a)
    return q.select(
        "cut_edges", "total_edges", F.round("cut_frac", ROUND).alias("cut_frac"),
        "max_size", "min_size",
    )


def _q_multilevel_part_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilevel (coarsen → partition → refine) assignment: heavy-edge
    handshake matching contracts the graph, weighted balanced-LPA
    partitions the coarse graph under fine-vertex quotas, two unweighted
    fine rounds refine the projection (k=8, 10% slack)."""
    from graphina_spark.operators.multilevel import multilevel_partition

    return multilevel_partition(
        _web(spark, sf_dir), k=8, coarse_rounds=4, refine_rounds=2
    )


def _q_multilevel_quality_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut fraction + balance envelope of the multilevel assignment."""
    from graphina_spark.operators.balance import partition_quality
    from graphina_spark.operators.multilevel import multilevel_partition

    g = _web(spark, sf_dir)
    a = multilevel_partition(g, k=8, coarse_rounds=4, refine_rounds=2)
    q = partition_quality(g, a)
    return q.select(
        "cut_edges", "total_edges", F.round("cut_frac", ROUND).alias("cut_frac"),
        "max_size", "min_size",
    )


def _q_k_center_embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez farthest-point k-center seeds over the quantized embedding
    grid (diversity coreset seeding; integer-exact selection)."""
    from graphina_spark.operators.coreset import k_center_seeds

    return k_center_seeds(_embs(spark, sf_dir), k=6)


def _q_coreset_assign_embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector assigned to its nearest k-center seed (coverage
    partition for stratified subset selection)."""
    from graphina_spark.operators.coreset import coreset_assign, k_center_seeds

    embs = _embs(spark, sf_dir)
    return coreset_assign(embs, k_center_seeds(embs, k=6))


def _q_motif4_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESCAPE 4-vertex motif census (non-induced; squares_web covers C4)."""
    from graphina_spark.operators.motifs import four_motif_census

    return four_motif_census(_web(spark, sf_dir))


def _q_copurchase_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase part pairs from the lineitem order lines
    (item-cap skew guard, min co-occurrence 2)."""
    from graphina_spark.operators.copurchase import copurchase_pairs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return copurchase_pairs(li, min_count=2)


def _q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the relational-derived co-purchase graph —
    the same gated kernel exercised on real-skew data (dangling parts =
    never co-purchased)."""
    from graphina_spark.operators.copurchase import copurchase_graph
    from graphina_spark.operators.pagerank import pagerank

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    g = copurchase_graph(li, min_count=2)
    g.edges = g.edges.transform(_mat)
    pr = pagerank(g, damping=0.85, fixed_iters=5, tol=None)
    return pr.select("id", F.round("rank", ROUND).alias("pr"))


def _q_percolation_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=3 clique-percolation communities (Palla 2005): (id, community)
    membership rows; community = min packed triangle-edge key."""
    from graphina_spark.operators.percolation import triangle_percolation

    return triangle_percolation(_web(spark, sf_dir))


def _q_percolation_sizes_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community vertex/edge sizes of the percolation communities."""
    from graphina_spark.operators.percolation import percolation_summary

    return percolation_summary(_web(spark, sf_dir))


def _q_fastrp_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.fastrp import fastrp_embedding

    return fastrp_embedding(_web(spark, sf_dir))


def _q_onion_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.kcore import onion_decomposition

    return onion_decomposition(_web(spark, sf_dir), fixed_rounds=18)


def _q_snapshot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.sources.snapshots import events_snapshot_report

    return events_snapshot_report(spark, sf_dir)


def _q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.substrings import remove_duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_duplicate_spans(docs)


def _q_train_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.classify import train_linear_classifier

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labels = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("lang") == "en").cast("double").alias("y"),
    )
    return train_linear_classifier(docs, labels, iters=3, lr=4.0)


def _q_blocklist_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.curation import url_blocklist_filter

    g = _web(spark, sf_dir)
    pages = g.vertices.select(
        "id",
        F.format_string(
            "https://h%d.example.com/p/%d", F.col("id") % HOST_MOD, F.col("id")
        ).alias("url"),
    )
    bl = spark.createDataFrame(
        [
            ("host", "h7.example.com"),
            ("host_suffix", "h9.example.com"),
            ("host_suffix", "example.org"),
            ("path_prefix", "h3.example.com/p/1"),
        ],
        "kind string, pattern string",
    )
    out = url_blocklist_filter(pages, bl)
    # '' sentinel for unblocked reason (NULL-vs-str crashes the driver sort)
    return out.select(
        "url", "blocked", F.coalesce("reason", F.lit("")).alias("reason")
    )


def _q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.ann import cosine_topk
    from graphina_spark.operators.retrieval import rrf_fuse

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    pref = base.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    qf = base.where(F.col("vec_id") % 25 == 0)
    qp = pref.where(F.col("vec_id") % 25 == 0)
    full_k = cosine_topk(base, k=5, queries=qf)
    pref_k = cosine_topk(pref, k=5, queries=qp)
    return rrf_fuse([full_k, pref_k], k=60)


def _q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.substrings import cdc_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cdc_chunks(docs)


def _q_temporal_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.paths import temporal_earliest_arrival

    g = _web(spark, sf_dir)
    tedges = g.edges.select(
        "src", "dst", ((F.col("src") * 7 + F.col("dst") * 13) % 97).alias("t")
    )
    sources = g.vertices.where(F.col("id") % 199 == 0)
    return temporal_earliest_arrival(tedges, sources, fixed_rounds=12)


def _q_jdd_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import joint_degree_distribution

    return joint_degree_distribution(_web(spark, sf_dir))


def _q_robots_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.crawl import parse_robots, robots_allowed

    g = _web(spark, sf_dir)
    pages = g.vertices.select(
        "id",
        F.format_string(
            "https://h%d.example.com/p/%d", F.col("id") % HOST_MOD, F.col("id")
        ).alias("url"),
    )
    k = F.col("k")
    robots = (
        spark.range(HOST_MOD)
        .select(F.col("id").alias("k"))
        .where(k % 3 < 2)
        .select(
            F.format_string("h%d.example.com", k).alias("host"),
            F.when(
                k % 3 == 0,
                F.lit("User-agent: *\nDisallow: /p/1\nAllow: /p/12\n"),
            )
            .otherwise(
                F.lit(
                    "User-agent: graphina\nDisallow: /\n\n"
                    "User-agent: *\nAllow: /\n"
                )
            )
            .alias("body"),
        )
    )
    out = robots_allowed(pages, parse_robots(robots), agent="graphina")
    # the driver's row-normalization sorts tuples column-name-first;
    # NULL-vs-str comparisons crash it, so the gate pins '' for "no rule"
    return out.select(
        "url", "allowed", F.coalesce("rule_path", F.lit("")).alias("rule_path")
    )


def _q_refex_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.refex import refex_features

    return refex_features(_web(spark, sf_dir), rounds=2)


def _q_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.crawl import (
        parse_robots,
        parse_sitemaps,
        sitemap_frontier,
    )

    g = _web(spark, sf_dir)
    pages = g.vertices.select(
        "id",
        F.format_string("h%d.example.com", F.col("id") % HOST_MOD).alias("host"),
        F.format_string(
            "https://h%d.example.com/p/%d", F.col("id") % HOST_MOD, F.col("id")
        ).alias("url"),
    )
    entry = F.concat(
        F.lit("<url><loc>"),
        F.col("url"),
        F.lit("</loc>"),
        F.when(
            F.col("id") % 3 == 0,
            F.concat(
                F.lit("<lastmod>2024-01-"),
                F.lpad((F.col("id") % 28 + 1).cast("string"), 2, "0"),
                F.lit("</lastmod>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    bodies = (
        pages.where(F.col("id") % 5 < 2)
        .select("host", F.struct("id", entry.alias("e")).alias("s"))
        .groupBy("host")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(s)), x -> x.e)"), ""
            ).alias("body")
        )
    )
    robots = (
        spark.range(HOST_MOD)
        .select(F.col("id").alias("k"))
        .where(F.col("k") % 3 < 2)
        .select(
            F.format_string("h%d.example.com", F.col("k")).alias("host"),
            F.when(
                F.col("k") % 3 == 0,
                F.lit("User-agent: *\nDisallow: /p/1\nAllow: /p/12\n"),
            )
            .otherwise(
                F.lit(
                    "User-agent: graphina\nDisallow: /\n\n"
                    "User-agent: *\nAllow: /\n"
                )
            )
            .alias("body"),
        )
    )
    seen = pages.where(F.col("id") % 2 == 0).select("url")
    out = sitemap_frontier(
        parse_sitemaps(bodies), seen, rules=parse_robots(robots), agent="graphina"
    )
    # '' sentinel for absent lastmod (NULL-vs-str crashes the driver sort)
    return out.select(
        "url", "host", F.coalesce("lastmod", F.lit("")).alias("lastmod")
    )


def _q_attack_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import attack_robustness

    return attack_robustness(_web(spark, sf_dir), remove_counts=(0, 10, 50))


def _q_textrank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.textrank import textrank_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textrank_terms(docs, iters=5)


def _q_inequality_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import degree_inequality

    return degree_inequality(_web(spark, sf_dir))


def _q_failure_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.metrics import random_failure_robustness

    return random_failure_robustness(_web(spark, sf_dir))


def _q_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.zorder import z_value

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        z_value(F.col("user_id"), F.col("event_id") % 65536).alias("z"),
    )


def _q_icws_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.icws import icws_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return icws_signatures(docs, k=8)


def _q_plsi_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.plsi import plsi_fit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _, phi = plsi_fit(docs, n_topics=4, iters=3)
    return phi


def _q_plsi_doc_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.plsi import plsi_fit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    theta, _ = plsi_fit(docs, n_topics=4, iters=3)
    return theta


def _clf_scored_labels(spark: SparkSession, sf_dir: str):
    from graphina_spark.operators.classify import classifier_scores, demo_weights

    docs = _docs(spark, sf_dir)
    scored = classifier_scores(docs, demo_weights(spark), bias=-0.05)
    labels = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("lang") == "en").cast("double").alias("y"),
    )
    return scored, labels


def _q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.classify import classifier_calibration

    scored, labels = _clf_scored_labels(spark, sf_dir)
    return classifier_calibration(scored, labels)


def _q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphina_spark.operators.classify import classifier_auc

    scored, labels = _clf_scored_labels(spark, sf_dir)
    return classifier_auc(scored, labels)


def _q_sampled_tri_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sparsified triangle estimate at frac=0.5 (deterministic
    md5 edge coin; exact oriented count on the sample; /frac^3 scale-up)."""
    from graphina_spark.operators.triangles import sampled_triangle_count

    return sampled_triangle_count(_web(spark, sf_dir), frac=0.5)


def _q_rank_delta_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority shift per recrawl: PageRank on the base crawl vs the
    recrawl snapshot (link rot + newly discovered ring), per-id delta."""
    from graphina_spark.operators.pagerank import pagerank
    from graphina_spark.sources.derived import web_graph_recrawl

    ga = _web(spark, sf_dir)
    gb = web_graph_recrawl(spark, sf_dir)
    gb.edges = gb.edges.transform(_mat)
    pa = pagerank(ga, damping=0.85, fixed_iters=5, tol=None).select(
        "id", F.round("rank", ROUND).alias("pr_old")
    )
    pb = pagerank(gb, damping=0.85, fixed_iters=5, tol=None).select(
        "id", F.round("rank", ROUND).alias("pr_new")
    )
    return pa.join(pb, "id").select(
        "id", "pr_old", "pr_new",
        F.round(F.col("pr_new") - F.col("pr_old"), ROUND).alias("delta"),
    )


def _q_sage_agg_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE export: mean feature vector of a deterministic 3-neighbor
    sample per vertex, long format (id, pos, mean_val, n_sampled)."""
    from graphina_spark.operators.gnnprep import sage_neighbor_mean

    df = sage_neighbor_mean(
        _web(spark, sf_dir), _embs(spark, sf_dir), k=3, directed=False
    )
    return df.select(
        "id",
        "pos",
        # + 0.0 collapses IEEE −0.0 (r4 hash-red root cause) — twin does too
        (F.round("mean_val", ROUND) + F.lit(0.0)).alias("mean_val"),
        "n_sampled",
    )


# Gates that already have a green driver row in CORRECTNESS_r01..r04.
# queries() rotates these to the END so the driver's 50-entry cap certifies
# never-driver-checked gates first each round (VERDICT r2, task 1).  The
# full dict is unchanged in content — only iteration order differs.
_DRIVER_CERTIFIED = [
    # --- r4 (CORRECTNESS_r04.json, 48/50 green; the 2 hash-red sage gates
    # are NOT listed — they re-certify first in _R5_PRIORITY after the
    # signed-zero fix) ---
    "pagerank_uniform_web", "incremental_pr_web", "incremental_tri_web",
    "media_jpeg", "neardup_groups", "semdedup", "contrastive_pairs",
    "curation_pipeline", "dedup_keep_best", "kcore_web", "hits_web",
    "walks_web", "node2vec_web", "spam_mass_web", "doc_split",
    "train_classifier", "classifier_scores", "classifier_auc",
    "classifier_calibration", "gopher_rules", "doc_filter",
    "doc_repetition", "embedding_neardup", "span_dedup", "substring_dup",
    "winnow_fp", "pack_docs", "chunk_docs", "cdc_chunks", "stratified_docs",
    "weighted_sample_docs", "mixture_docs", "dsir_weights",
    "split_contamination", "lm_quality", "tfidf_terms", "bm25_docs",
    "textrank_docs", "top_ngrams", "pmi_bigrams", "zipf_docs",
    "vocab_stats", "corpus_stats", "kmeans_emb", "k_center_embs",
    "pca_emb", "silhouette_emb", "fastrp_web",
    # --- r3 (CORRECTNESS_r03.json, 50/50 green) ---
    "sp_tree_web", "sssp_path_web", "fw_local_web", "johnson_neg_web",
    "astar_local_web", "dfs_tree_web", "media_features",
    "pagerank_resume_web", "pagerank_sharded_web", "incremental_cc_web",
    "mst_exact_web", "tsp_local_web", "treewidth_local_web", "coloring_web",
    "squares_web", "triad_census_web", "simrank_web", "topic_pagerank_web",
    "structdup_web", "bpe_merges", "freq_tokens", "contamination",
    "push_ppr_web", "hitting_web", "core_track_web", "cascade_web",
    "spreading_web", "ck_curve_web", "wl_web", "wl_drift_web",
    "matching_web", "vertex_cover_web", "large_clique_web",
    "clique_removal_blocks", "densest_web", "ramsey_web", "validation_web",
    "events_graph", "pagerank_events", "spectral_clique", "pic_clique",
    "girvan_newman_bridged", "connectivity_theta", "edge_list_roundtrip",
    "generators", "pii_scrub", "line_dedup", "len_deciles", "ivf_topk",
    "lsh_recall",
    # --- r1/r2 ---
    "anf_web", "ann_cosine_topk", "ann_lsh_topk", "approx_dist_web",
    "assortativity_web", "avg_clustering_web", "betweenness_web",
    "bfs_dist_web", "closeness_web", "clustering_web", "components_block",
    "condensation_web", "degree_web", "density_web", "dist_metrics_web",
    "edge_betweenness_web", "eigenvector_web", "exact_dedup", "harmonic_web",
    "in_degree_web", "induced_sub_web", "infomap_web", "katz_web",
    "khop_web", "laplacian_web", "leiden_block", "links_aa_web",
    "links_ccpa_web", "links_cn_sh_web", "links_cn_web", "links_jaccard_web",
    "links_pa_web", "links_ra_sh_web", "links_ra_web", "links_wic_web",
    "louvain_block", "lpa_block", "minhash_lsh", "mis_web",
    "modularity_block", "msf_block", "ngram_jaccard", "out_degree_web",
    "page_links", "page_text", "pagerank_pages", "pagerank_web",
    "personalized_pagerank_web", "reaching2_web", "scc_web", "simhash",
    "sssp_web", "text_stats", "transitivity_web", "triangles_web",
    "voterank_web", "wcc_web",
]


# Round-5 (final) certification priority (VERDICT r4, task 3): the driver
# caps at ~50 rows/round and 98 gates have never had a driver row, so the
# two signed-zero re-gates lead, then the cap-bumped north-star names,
# then the structural/web/eval, retrieval/embedding, events, and infra
# families users hit most.  Anything not listed follows in dict order,
# then all previously-certified gates.
_R5_PRIORITY = [
    # the 2 r4 hash-red gates, re-certified after the −0.0 normalization
    "sage_agg_web", "incremental_sage_web",
    # cap-bumped north-star web-graph names (r4 parity-green)
    "ktruss_web", "coreness_web", "salsa_web", "motif4_web",
    # structural / web / eval gates
    "bowtie_web", "host_graph_web", "cocitation_web", "percolation_web",
    "onion_web", "sweep_cut_web", "sweep_cut_block", "seeded_lpa_web",
    "conductance_web", "linkpred_auc_web", "nmi_block", "ari_block",
    "reciprocity_web", "degree_hist_web", "powerlaw_web",
    "eccentricity_web", "rich_club_web", "wcc_sizes_web",
    # retrieval / embedding serving shapes
    "ivfpq_topk", "pq_recall", "opq_recall", "quant_recall",
    "matryoshka_recall", "hybrid_rrf", "nbr_emb_web",
    # events family
    "funnel_events", "retention_events", "transitions_events",
    "butterflies_events", "asof_purchase_events", "range_purchase_ctx",
    "session_stats", "rfm_events", "snapshot_events", "zorder_events",
    # streaming / web infra
    "cms_cells", "cms_probe", "warc_roundtrip", "bloom_seen_web",
    "canon_urls", "redirects_web", "robots_web", "blocklist_web",
    # remaining judge-parity-sampled names, in case the cap runs deeper
    "refex_web", "temporal_web", "icws_sig", "st_dist_web",
    "khop_frontier_web", "plsi_topics",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """All gates, never-driver-certified first (driver caps at ~50/round),
    with _R5_PRIORITY names leading the never-certified block."""
    base = _base_queries()
    certified = set(_DRIVER_CERTIFIED)
    out = {k: base[k] for k in _R5_PRIORITY if k in base and k not in certified}
    out.update(
        {k: v for k, v in base.items() if k not in certified and k not in out}
    )
    out.update({k: base[k] for k in _DRIVER_CERTIFIED if k in base})
    return out


def _base_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pagerank_web": _q_pagerank_web,
        "degree_web": _q_degree_web,
        "out_degree_web": _q_out_degree_web,
        "in_degree_web": _q_in_degree_web,
        "components_block": _q_components_block,
        "wcc_web": _q_wcc_web,
        "lpa_block": _q_lpa_block,
        "triangles_web": _q_triangles_web,
        "clustering_web": _q_clustering_web,
        "transitivity_web": _q_transitivity_web,
        "page_links": _q_page_links,
        "page_text": _q_page_text,
        "pagerank_pages": _q_pagerank_pages,
        **{f"links_{m}_web": _mk_links_query(m) for m in _LINK_MEASURES},
        "personalized_pagerank_web": _q_personalized_pagerank_web,
        "khop_web": _q_khop_web,
        "induced_sub_web": _q_induced_sub_web,
        "modularity_block": _q_modularity_block,
        "louvain_block": _q_louvain_block,
        "leiden_block": _q_leiden_block,
        "assortativity_web": _q_assortativity_web,
        "avg_clustering_web": _q_avg_clustering_web,
        "density_web": _q_density_web,
        "reaching2_web": _q_reaching2_web,
        "infomap_web": _q_infomap_web,
        "msf_block": _q_msf_block,
        "eigenvector_web": _q_eigenvector_web,
        "katz_web": _q_katz_web,
        "laplacian_web": _q_laplacian_web,
        "voterank_web": _q_voterank_web,
        "scc_web": _q_scc_web,
        "condensation_web": _q_condensation_web,
        "bfs_dist_web": _q_bfs_dist_web,
        "sssp_web": _q_sssp_web,
        "sp_tree_web": _q_sp_tree_web,
        "sssp_path_web": _q_sssp_path_web,
        "fw_local_web": _q_fw_local_web,
        "johnson_neg_web": _q_johnson_neg_web,
        "astar_local_web": _q_astar_local_web,
        "dfs_tree_web": _q_dfs_tree_web,
        "media_features": _q_media_features,
        "media_jpeg": _q_media_jpeg,
        "pagerank_resume_web": _q_pagerank_resume_web,
        "pagerank_sharded_web": _q_pagerank_sharded_web,
        "incremental_cc_web": _q_incremental_cc_web,
        "pagerank_uniform_web": _q_pagerank_uniform_web,
        "incremental_pr_web": _q_incremental_pr_web,
        "incremental_tri_web": _q_incremental_tri_web,
        "incremental_sage_web": _q_incremental_sage_web,
        "mst_exact_web": _q_mst_exact_web,
        "tsp_local_web": _q_tsp_local_web,
        "treewidth_local_web": _q_treewidth_local_web,
        "closeness_web": _q_closeness_web,
        "harmonic_web": _q_harmonic_web,
        "betweenness_web": _q_betweenness_web,
        "edge_betweenness_web": _q_edge_betweenness_web,
        "dist_metrics_web": _q_dist_metrics_web,
        "anf_web": _q_anf_web,
        "approx_dist_web": _q_approx_dist_web,
        "mis_web": _q_mis_web,
        "coloring_web": _q_coloring_web,
        "squares_web": _q_squares_web,
        "triad_census_web": _q_triad_census_web,
        "simrank_web": _q_simrank_web,
        "topic_pagerank_web": _q_topic_pagerank_web,
        "structdup_web": _q_structdup_web,
        "bpe_merges": _q_bpe_merges,
        "freq_tokens": _q_freq_tokens,
        "contamination": _q_contamination,
        "push_ppr_web": _q_push_ppr_web,
        "hitting_web": _q_hitting_web,
        "core_track_web": _q_core_track_web,
        "cascade_web": _q_cascade_web,
        "spreading_web": _q_spreading_web,
        "ck_curve_web": _q_ck_curve_web,
        "wl_web": _q_wl_web,
        "wl_drift_web": _q_wl_drift_web,
        "matching_web": _q_matching_web,
        "vertex_cover_web": _q_vertex_cover_web,
        "large_clique_web": _q_large_clique_web,
        "clique_removal_blocks": _q_clique_removal,
        "densest_web": _q_densest_web,
        "ramsey_web": _q_ramsey_web,
        "validation_web": _q_validation_web,
        "events_graph": _q_events_graph,
        "pagerank_events": _q_pagerank_events,
        "spectral_clique": _q_spectral_clique,
        "pic_clique": _q_pic_clique,
        "girvan_newman_bridged": _q_girvan_newman,
        "connectivity_theta": _q_connectivity_theta,
        "edge_list_roundtrip": _q_edge_list_roundtrip,
        "generators": _q_generators,
        "text_stats": _q_text_stats,
        "pii_scrub": _q_pii_scrub,
        "line_dedup": _q_line_dedup,
        "len_deciles": _q_len_deciles,
        "exact_dedup": _q_exact_dedup,
        "ngram_jaccard": _q_ngram_jaccard,
        "minhash_lsh": _q_minhash_lsh,
        "simhash": _q_simhash,
        "ann_cosine_topk": _q_ann_cosine,
        "ann_lsh_topk": _q_ann_lsh,
        "ivf_topk": _q_ivf_topk,
        "lsh_recall": _q_lsh_recall,
        "embedding_neardup": _q_embedding_neardup,
        "neardup_groups": _q_neardup_groups,
        "contrastive_pairs": _q_contrastive_pairs,
        "gopher_rules": _q_gopher_rules,
        "dedup_keep_best": _q_dedup_keep_best,
        "curation_pipeline": _q_curation_pipeline,
        "kcore_web": _q_kcore_web,
        "hits_web": _q_hits_web,
        "walks_web": _q_walks_web,
        "contract_web": _q_contract_web,
        "ktruss_web": _q_ktruss_web,
        "coreness_web": _q_coreness_web,
        "doc_split": _q_doc_split,
        "corpus_stats": _q_corpus_stats,
        "doc_filter": _q_doc_filter,
        "top_ngrams": _q_top_ngrams,
        "vocab_stats": _q_vocab_stats,
        "bowtie_planted": _q_bowtie_planted,
        "bowtie_web": _q_bowtie_web,
        "doc_repetition": _q_doc_repetition,
        "substring_dup": _q_substring_dup,
        "lm_quality": _q_lm_quality,
        "winnow_fp": _q_winnow_fp,
        "dsir_weights": _q_dsir_weights,
        "classifier_scores": _q_classifier_scores,
        "cms_cells": _q_cms_cells,
        "cms_probe": _q_cms_probe,
        "warc_roundtrip": _q_warc_roundtrip,
        "split_contamination": _q_split_contamination,
        "tfidf_terms": _q_tfidf_terms,
        "reciprocity_web": _q_reciprocity_web,
        "degree_hist_web": _q_degree_hist_web,
        "powerlaw_web": _q_powerlaw_web,
        "seeded_lpa_web": _q_seeded_lpa_web,
        "eccentricity_web": _q_eccentricity_web,
        "host_distinct_web": _q_host_distinct_web,
        "silhouette_emb": _q_silhouette_emb,
        "pca_emb": _q_pca_emb,
        "quant_recall": _q_quant_recall,
        "matryoshka_recall": _q_matryoshka_recall,
        "pq_recall": _q_pq_recall,
        "opq_recall": _q_opq_recall,
        "ivfpq_topk": _q_ivfpq_topk,
        "nbr_emb_web": _q_nbr_emb_web,
        "weighted_sample_docs": _q_weighted_sample_docs,
        "st_dist_web": _q_st_dist_web,
        "rfm_events": _q_rfm_events,
        "rank_drift_web": _q_rank_drift_web,
        "two_sweep_web": _q_two_sweep_web,
        "zipf_docs": _q_zipf_docs,
        "chunk_docs": _q_chunk_docs,
        "neg_edges_web": _q_neg_edges_web,
        "source_kl": _q_source_kl,
        "mixture_docs": _q_mixture_docs,
        "edge_sample_web": _q_edge_sample_web,
        "vertex_sample_sub_web": _q_vertex_sample_sub_web,
        "salsa_web": _q_salsa_web,
        "host_graph_web": _q_host_graph_web,
        "conductance_web": _q_conductance_web,
        "ari_block": _q_ari_block,
        "nmi_block": _q_nmi_block,
        "linkpred_auc_web": _q_linkpred_auc_web,
        "future_auc_web": _q_future_auc_web,
        "attr_assortativity_web": _q_attr_assortativity_web,
        "sweep_cut_block": _q_sweep_cut_block,
        "sweep_cut_web": _q_sweep_cut_web,
        "spam_mass_web": _q_spam_mass_web,
        "anchor_stats": _q_anchor_stats,
        "cocitation_web": _q_cocitation_web,
        "redirects_web": _q_redirects_web,
        "canon_urls": _q_canon_urls,
        "stratified_docs": _q_stratified_docs,
        "kmeans_emb": _q_kmeans_emb,
        "top_pages_per_host": _q_top_pages_per_host,
        "crawl_schedule": _q_crawl_schedule,
        "bloom_seen_web": _q_bloom_seen_web,
        "topo_layers_web": _q_topo_layers_web,
        "semdedup": _q_semdedup,
        "coupling_web": _q_coupling_web,
        "rich_club_web": _q_rich_club_web,
        "avg_nbr_deg_web": _q_avg_nbr_deg_web,
        "wcc_sizes_web": _q_wcc_sizes_web,
        "node2vec_web": _q_node2vec_web,
        "dist_oracle_web": _q_dist_oracle_web,
        "graph_diff_web": _q_graph_diff_web,
        "pack_docs": _q_pack_docs,
        "asof_purchase_events": _q_asof_purchase_events,
        "range_purchase_ctx": _q_range_purchase_ctx,
        "funnel_events": _q_funnel_events,
        "retention_events": _q_retention_events,
        "transitions_events": _q_transitions_events,
        "pmi_bigrams": _q_pmi_bigrams,
        "session_stats": _q_session_stats,
        "butterflies_events": _q_butterflies_events,
        "bm25_docs": _q_bm25_docs,
        "forman_web": _q_forman_web,
        "embeddedness_web": _q_embeddedness_web,
        "ego_stats_web": _q_ego_stats_web,
        "burt_web": _q_burt_web,
        "backbone_web": _q_backbone_web,
        "sage_agg_web": _q_sage_agg_web,
        "s_core_web": _q_s_core_web,
        "khop_frontier_web": _q_khop_frontier_web,
        "config_model_web": _q_config_model_web,
        "null_delta_web": _q_null_delta_web,
        "balanced_part_web": _q_balanced_part_web,
        "part_quality_web": _q_part_quality_web,
        "multilevel_part_web": _q_multilevel_part_web,
        "multilevel_quality_web": _q_multilevel_quality_web,
        "k_center_embs": _q_k_center_embs,
        "coreset_assign_embs": _q_coreset_assign_embs,
        "motif4_web": _q_motif4_web,
        "copurchase_parts": _q_copurchase_parts,
        "pagerank_parts": _q_pagerank_parts,
        "rank_delta_web": _q_rank_delta_web,
        "percolation_web": _q_percolation_web,
        "percolation_sizes_web": _q_percolation_sizes_web,
        "sampled_tri_web": _q_sampled_tri_web,
        "fastrp_web": _q_fastrp_web,
        "onion_web": _q_onion_web,
        "snapshot_events": _q_snapshot_events,
        "span_dedup": _q_span_dedup,
        "train_classifier": _q_train_classifier,
        "blocklist_web": _q_blocklist_web,
        "hybrid_rrf": _q_hybrid_rrf,
        "cdc_chunks": _q_cdc_chunks,
        "temporal_web": _q_temporal_web,
        "jdd_web": _q_jdd_web,
        "robots_web": _q_robots_web,
        "refex_web": _q_refex_web,
        "sitemap_frontier": _q_sitemap_frontier,
        "attack_web": _q_attack_web,
        "textrank_docs": _q_textrank_docs,
        "inequality_web": _q_inequality_web,
        "failure_web": _q_failure_web,
        "zorder_events": _q_zorder_events,
        "icws_sig": _q_icws_sig,
        "plsi_topics": _q_plsi_topics,
        "plsi_doc_topics": _q_plsi_doc_topics,
        "classifier_calibration": _q_classifier_calibration,
        "classifier_auc": _q_classifier_auc,
    }


def oracle_sql() -> dict[str, str]:
    from graphina_spark import oracles as O
    from graphina_spark.oracles import (
        clustering_web_sql,
        components_block_sql,
        degree_web_sql,
        eigenvector_web_sql,
        katz_web_sql,
        laplacian_web_sql,
        links_web_sql,
        lpa_block_sql,
        page_links_sql,
        page_text_sql,
        pagerank_pages_sql,
        pagerank_web_sql,
        transitivity_web_sql,
        triangles_web_sql,
        wcc_web_sql,
    )

    return {
        "pagerank_web": pagerank_web_sql(),
        "degree_web": degree_web_sql("total"),
        "out_degree_web": degree_web_sql("out"),
        "in_degree_web": degree_web_sql("in"),
        "components_block": components_block_sql(),
        "wcc_web": wcc_web_sql(),
        "lpa_block": lpa_block_sql(),
        "triangles_web": triangles_web_sql(),
        "clustering_web": clustering_web_sql(),
        "transitivity_web": transitivity_web_sql(),
        "page_links": page_links_sql(),
        "page_text": page_text_sql(),
        "pagerank_pages": pagerank_pages_sql(),
        **{f"links_{m}_web": links_web_sql(m) for m in _LINK_MEASURES},
        "eigenvector_web": eigenvector_web_sql(iters=5),
        "katz_web": katz_web_sql(iters=5),
        "laplacian_web": laplacian_web_sql(),
        "personalized_pagerank_web": O.personalized_pagerank_web_sql(iters=5),
        "khop_web": O.khop_web_sql(k=2),
        "induced_sub_web": O.induced_sub_web_sql(below=200),
        "modularity_block": O.modularity_block_sql(),
        "louvain_block": O.louvain_block_sql(),
        "leiden_block": O.leiden_block_sql(),
        "assortativity_web": O.assortativity_web_sql(),
        "avg_clustering_web": O.avg_clustering_web_sql(),
        "density_web": O.density_web_sql(),
        "reaching2_web": O.reaching2_web_sql(),
        "infomap_web": O.infomap_web_sql(iters=3),
        "msf_block": O.msf_block_sql(rounds=8),
        "voterank_web": O.voterank_web_sql(num_seeds=10),
        "scc_web": O.scc_web_sql(),
        "condensation_web": O.condensation_web_sql(),
        "bfs_dist_web": O.bfs_dist_web_sql(max_depth=4),
        "sssp_web": O.sssp_web_sql(),
        "sp_tree_web": O.sp_tree_web_sql(src_mod=199),
        "sssp_path_web": O.sssp_path_web_sql(source=1),
        "fw_local_web": O.fw_local_web_sql(),
        "johnson_neg_web": O.johnson_neg_web_sql(),
        "astar_local_web": O.astar_local_web_sql(),
        "dfs_tree_web": O.dfs_tree_web_sql(),
        "media_features": O.media_features_sql(),
        "media_jpeg": O.media_jpeg_sql(),
        "pagerank_resume_web": pagerank_web_sql(),
        "pagerank_sharded_web": pagerank_web_sql(),
        "incremental_cc_web": wcc_web_sql(),
        "pagerank_uniform_web": O.pagerank_uniform_web_sql(),
        "incremental_pr_web": O.incremental_pagerank_web_sql(),
        "incremental_tri_web": O.triangles_web_sql(),
        "incremental_sage_web": O.sage_agg_web_sql(k=3),
        "mst_exact_web": O.mst_exact_web_sql(),
        "tsp_local_web": O.tsp_local_web_sql(),
        "treewidth_local_web": O.treewidth_local_web_sql(),
        "closeness_web": O.closeness_web_sql(),
        "harmonic_web": O.harmonic_web_sql(),
        "betweenness_web": O.betweenness_web_sql(),
        "edge_betweenness_web": O.edge_betweenness_web_sql(),
        "dist_metrics_web": O.dist_metrics_web_sql(max_depth=8),
        "anf_web": O.anf_web_sql(k=8, rounds=8),
        "approx_dist_web": O.approx_dist_web_sql(k=8, rounds=8),
        "mis_web": O.mis_web_sql(rounds=APPROX_ROUNDS),
        "coloring_web": O.coloring_web_sql(rounds=APPROX_ROUNDS),
        "squares_web": O.squares_web_sql(),
        "triad_census_web": O.triad_census_web_sql(),
        "simrank_web": O.simrank_web_sql(steps=4, replicates=6),
        "topic_pagerank_web": O.topic_pagerank_web_sql(iters=5),
        "structdup_web": O.structdup_web_sql(min_jaccard=0.125),
        "push_ppr_web": O.push_ppr_web_sql(alpha=0.15, rounds=6),
        "hitting_web": O.hitting_time_web_sql(horizon=6),
        "core_track_web": O.core_track_web_sql(rounds=CORENESS_ROUNDS),
        "cascade_web": O.cascade_web_sql(theta_num=1, theta_den=3, rounds=6),
        "spreading_web": O.spreading_web_sql(alpha=0.8, iters=5),
        "ck_curve_web": O.ck_curve_web_sql(),
        "wl_web": O.wl_colors_web_sql(rounds=3),
        "wl_drift_web": O.wl_drift_web_sql(rounds=3),
        "matching_web": O.matching_web_sql(rounds=APPROX_ROUNDS),
        "vertex_cover_web": O.vertex_cover_web_sql(rounds=APPROX_ROUNDS),
        "large_clique_web": O.large_clique_web_sql(rounds=APPROX_ROUNDS),
        "clique_removal_blocks": O.clique_removal_sql(max_cliques=3),
        "densest_web": O.densest_web_sql(epsilon=0.1, rounds=16),
        "ramsey_web": O.ramsey_web_sql(rounds=APPROX_ROUNDS),
        "validation_web": O.validation_web_sql(),
        "events_graph": O.events_graph_sql(),
        "pagerank_events": O.pagerank_events_sql(),
        "spectral_clique": O.spectral_clique_sql(),
        "pic_clique": O.pic_clique_sql(iters=5),
        "girvan_newman_bridged": O.girvan_newman_bridged_sql(removals=4, levels=10),
        "connectivity_theta": O.connectivity_theta_sql(),
        "edge_list_roundtrip": O.edge_list_roundtrip_sql(),
        "generators": O.generators_sql(n=60),
        "kcore_web": O.kcore_web_sql(k=KCORE_K, rounds=KCORE_ROUNDS),
        "hits_web": O.hits_web_sql(iters=HITS_ITERS),
        "walks_web": O.walks_web_sql(
            length=WALK_LEN, walks_per_node=WALKS_PER_NODE
        ),
        "contract_web": O.contract_web_sql(mod=CONTRACT_MOD),
        "ktruss_web": O.ktruss_web_sql(k=TRUSS_K, rounds=TRUSS_ROUNDS),
        "coreness_web": O.coreness_web_sql(rounds=CORENESS_ROUNDS),
        "bowtie_planted": O.bowtie_planted_sql(),
        "bowtie_web": O.bowtie_web_sql(),
        "reciprocity_web": O.reciprocity_web_sql(),
        "degree_hist_web": O.degree_hist_web_sql(kind="total"),
        "powerlaw_web": O.powerlaw_web_sql(kmin=5),
        "seeded_lpa_web": O.seeded_lpa_web_sql(iters=4, seed_mod=97),
        "eccentricity_web": O.eccentricity_web_sql(max_depth=12, src_mod=97),
        "st_dist_web": O.st_dist_web_sql(max_depth=16, src_mod=199, dst_mod=173),
        "rfm_events": O.rfm_events_sql(),
        "rank_drift_web": O.rank_drift_web_sql(iters=5),
        "neg_edges_web": O.neg_edges_web_sql(per_node=3, oversample=4),
        "two_sweep_web": O.two_sweep_web_sql(max_depth=12),
        "host_distinct_web": O.host_distinct_web_sql(host_mod=HOST_MOD, k=8),
        "edge_sample_web": O.edge_sample_web_sql(frac=0.3),
        "vertex_sample_sub_web": O.vertex_sample_sub_web_sql(frac=0.5),
        "salsa_web": O.salsa_web_sql(iters=SALSA_ITERS),
        "host_graph_web": O.host_graph_web_sql(host_mod=HOST_MOD),
        "conductance_web": O.conductance_web_sql(host_mod=HOST_MOD),
        "ari_block": O.ari_block_sql(),
        "nmi_block": O.nmi_block_sql(),
        "linkpred_auc_web": O.linkpred_auc_web_sql(per_node=3, oversample=4),
        "future_auc_web": O.future_auc_web_sql(per_node=3, oversample=4),
        "attr_assortativity_web": O.attr_assortativity_web_sql(host_mod=HOST_MOD),
        "sweep_cut_block": O.sweep_cut_block_sql(),
        "sweep_cut_web": O.sweep_cut_web_sql(),
        "spam_mass_web": O.spam_mass_web_sql(iters=5, seed_below=TRUST_SEEDS_BELOW),
        "anchor_stats": O.anchor_stats_sql(),
        "cocitation_web": O.cocitation_web_sql(min_count=COCIT_MIN),
        "redirects_web": O.redirects_web_sql(mod=REDIR_MOD),
        "canon_urls": O.canon_urls_sql(),
        "stratified_docs": O.stratified_docs_sql(STRATA_FRACS),
        "top_pages_per_host": O.top_pages_per_host_sql(
            host_mod=HOST_MOD, k=TOP_PER_HOST
        ),
        "bloom_seen_web": O.bloom_seen_sql(m_bits=BLOOM_BITS),
        "topo_layers_web": O.topo_layers_sql(rounds=TOPO_ROUNDS),
        "crawl_schedule": O.crawl_schedule_sql(
            host_mod=HOST_MOD, per_host=TOP_PER_HOST, budget=CRAWL_BUDGET
        ),
        "coupling_web": O.coupling_web_sql(min_count=COCIT_MIN),
        "rich_club_web": O.rich_club_web_sql(k=RICH_CLUB_K),
        "avg_nbr_deg_web": O.avg_neighbor_degree_web_sql(),
        "wcc_sizes_web": O.wcc_sizes_web_sql(),
        "node2vec_web": O.node2vec_web_sql(
            length=3, walks_per_node=1, w_return=1, w_common=2, w_far=1
        ),
        "dist_oracle_web": O.dist_oracle_web_sql(
            max_depth=6, lm_mod=59, pair_a=13, pair_b=7
        ),
        "graph_diff_web": O.graph_diff_web_sql(),
        "asof_purchase_events": O.asof_purchase_sql(),
        "range_purchase_ctx": O.range_purchase_ctx_sql(),
        "funnel_events": O.funnel_stages_sql(("view", "click", "purchase")),
        "retention_events": O.cohort_retention_sql(period_s=86_400),
        "transitions_events": O.session_transitions_sql(),
        "session_stats": O.session_stats_sql(),
        "butterflies_events": O.user_butterflies_sql(),
        "forman_web": O.forman_web_sql(),
        "embeddedness_web": O.embeddedness_web_sql(),
        "ego_stats_web": O.ego_stats_web_sql(),
        "burt_web": O.burt_web_sql(),
        "backbone_web": O.backbone_web_sql(alpha_cut=0.5),
        "sage_agg_web": O.sage_agg_web_sql(k=3),
        "s_core_web": O.s_core_web_sql(s=15.0, rounds=12),
        "khop_frontier_web": O.khop_frontier_web_sql(k1=3, k2=2),
        "config_model_web": O.config_model_web_sql(seed=0),
        "null_delta_web": O.null_delta_web_sql(seed=0),
        "balanced_part_web": O.balanced_part_web_sql(k=8, rounds=4, slack_pct=10),
        "part_quality_web": O.part_quality_web_sql(k=8, rounds=4, slack_pct=10),
        "multilevel_part_web": O.multilevel_part_web_sql(
            k=8, coarse_rounds=4, refine_rounds=2, slack_pct=10
        ),
        "multilevel_quality_web": O.multilevel_quality_web_sql(
            k=8, coarse_rounds=4, refine_rounds=2, slack_pct=10
        ),
        "k_center_embs": O.k_center_embs_sql(k=6),
        "coreset_assign_embs": O.coreset_assign_embs_sql(k=6),
        "motif4_web": O.motif4_web_sql(),
        "copurchase_parts": O.copurchase_parts_sql(min_count=2),
        "pagerank_parts": pagerank_web_sql(edges_cte=O.parts_edges_cte(2, 1_000)),
        "rank_delta_web": O.rank_delta_web_sql(),
        "percolation_web": O.percolation_web_sql(),
        "percolation_sizes_web": O.percolation_sizes_web_sql(),
        "sampled_tri_web": O.sampled_triangles_sql(frac=0.5),
        "fastrp_web": O.fastrp_web_sql(),
        "onion_web": O.onion_web_sql(rounds=18),
        "snapshot_events": O.snapshot_events_sql(),
        "blocklist_web": O.blocklist_web_sql(host_mod=HOST_MOD),
        "temporal_web": O.temporal_web_sql(rounds=12),
        "jdd_web": O.jdd_web_sql(),
        "robots_web": O.robots_web_sql(host_mod=HOST_MOD),
        "refex_web": O.refex_web_sql(rounds=2),
        "sitemap_frontier": O.sitemap_frontier_sql(host_mod=HOST_MOD),
        "attack_web": O.attack_robustness_sql(remove_counts=(0, 10, 50)),
        "inequality_web": O.degree_inequality_sql(),
        "failure_web": O.random_failure_sql(),
        "zorder_events": O.zorder_events_sql(),
        **_text_oracles(),
    }


def _text_oracles() -> dict[str, str]:
    from graphina_spark import oracles_text as T

    return {
        "text_stats": T.text_stats_sql(),
        "span_dedup": T.span_dedup_sql(),
        "textrank_docs": T.textrank_sql(iters=5),
        "icws_sig": T.icws_sig_sql(k=8),
        "plsi_topics": T.plsi_topics_sql(n_topics=4, iters=3),
        "plsi_doc_topics": T.plsi_doc_topics_sql(n_topics=4, iters=3),
        "classifier_calibration": T.classifier_calibration_sql(),
        "classifier_auc": T.classifier_auc_sql(),
        "train_classifier": T.train_classifier_sql(iters=3, lr=4.0),
        "hybrid_rrf": T.hybrid_rrf_sql(k=5, dims=16, query_mod=25, rrf_k=60),
        "cdc_chunks": T.cdc_chunks_sql(),
        "pii_scrub": T.pii_scrub_sql(),
        "line_dedup": T.line_dedup_sql(),
        "len_deciles": T.len_deciles_sql(),
        "bpe_merges": T.bpe_merges_sql(merges=8),
        "freq_tokens": T.frequent_tokens_sql(num=1, den=500),
        "contamination": T.contamination_sql(k=4),
        "exact_dedup": T.exact_dedup_sql(),
        "ngram_jaccard": T.ngram_jaccard_sql(threshold=0.2),
        "minhash_lsh": T.minhash_lsh_sql(threshold=0.2),
        "simhash": T.simhash_sql(),
        "ann_cosine_topk": T.ann_cosine_topk_sql(kk=5),
        "ann_lsh_topk": T.ann_lsh_topk_sql(kk=5, planes=6, tables=2, max_bucket=32),
        "ivf_topk": T.ivf_topk_sql(kk=5, n_centroids=16, n_probe=2),
        "lsh_recall": T.lsh_recall_sql(kk=5, planes=6, tables=2, max_bucket=32),
        "embedding_neardup": T.embedding_neardup_sql(
            threshold=0.4, planes=6, tables=2, max_bucket=4096
        ),
        "neardup_groups": T.neardup_groups_sql(threshold=0.2),
        "contrastive_pairs": T.contrastive_pairs_sql(pos_threshold=0.4, k_neg=3),
        "gopher_rules": T.gopher_rules_sql(),
        "dedup_keep_best": T.dedup_keep_best_sql(threshold=0.2),
        "curation_pipeline": T.curation_pipeline_sql(contam_k=4, **FILTER_ARGS),
        "doc_split": T.doc_split_sql(),
        "corpus_stats": T.corpus_stats_sql(),
        "doc_filter": T.doc_filter_sql(**FILTER_ARGS),
        "top_ngrams": T.top_ngrams_sql(n=NGRAM_N, k=NGRAM_K),
        "vocab_stats": T.vocab_stats_sql(),
        "doc_repetition": T.doc_repetition_sql(),
        "substring_dup": T.substring_dup_sql(k=8),
        "lm_quality": T.lm_quality_sql(),
        "winnow_fp": T.winnow_fingerprint_sql(k=5, w=4),
        "silhouette_emb": T.silhouette_sql(k=8, iters=2),
        "pca_emb": T.pca_emb_sql(iters=6),
        "quant_recall": T.quant_recall_sql(k=5, query_mod=25),
        "matryoshka_recall": T.matryoshka_recall_sql(k=5, dims=16, query_mod=25),
        "pq_recall": T.pq_recall_sql(k=5, m=4, ks=16, iters=2, dim=64, query_mod=25),
        "opq_recall": T.opq_recall_sql(k=5, m=4, ks=16, iters=2, dim=64, rounds=2, query_mod=25),
        "ivfpq_topk": T.ivfpq_topk_sql(kk=5, n_centroids=16, n_probe=2, m=4, ks=16, iters=2, dim=64),
        "nbr_emb_web": T.nbr_emb_sql(),
        "weighted_sample_docs": T.weighted_sample_sql(k=50),
        "zipf_docs": T.zipf_fit_sql(top_n=100),
        "chunk_docs": T.chunk_docs_sql(size=32, stride=24),
        "source_kl": T.source_kl_sql(),
        "mixture_docs": T.mixture_plan_sql(
            weights={"src0": 0.3, "src1": 0.2, "src5": 0.5, "srcX": 0.7},
            token_budget=1_000_000,
        ),
        "dsir_weights": T.dsir_weights_sql(targets=("src0", "src1")),
        "classifier_scores": T.classifier_scores_sql(bias=-0.05),
        "cms_cells": T.cms_cells_sql(),
        "cms_probe": T.cms_probe_sql(k=10),
        "warc_roundtrip": T.warc_roundtrip_sql(),
        "split_contamination": T.split_contamination_sql(k=3),
        "tfidf_terms": T.tfidf_top_terms_sql(k=3),
        "kmeans_emb": T.kmeans_sql(k=KMEANS_K, iters=KMEANS_ITERS),
        "semdedup": T.semdedup_sql(
            k=KMEANS_K, iters=KMEANS_ITERS, threshold=SEMDEDUP_T
        ),
        "bm25_docs": T.bm25_scores_sql(terms=("dup", "spark", "vector")),
        "pack_docs": T.pack_docs_sql(seq_len=512),
        "pmi_bigrams": T.pmi_bigrams_sql(min_count=5),
    }
