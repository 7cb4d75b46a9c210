"""Salted CSR adjacency shards: structure invariants + PageRank equivalence
between the per-edge join path and the sharded gather path."""

import pytest
from pyspark.sql import functions as F

from graphina_spark.operators.pagerank import pagerank
from graphina_spark.plans.shards import build_adj_shards
from graphina_spark.sources.derived import web_graph
from tests.conftest import make_graph


def _pr_map(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def test_shard_rows_capped_and_complete(spark, sf_dir):
    # undirected: the 16 in-degree hubs symmetrize into out-degree hubs,
    # exercising the salt split
    gd = web_graph(spark, sf_dir)
    from graphina_spark.graph import LinkGraph

    g = LinkGraph(vertices=gd.vertices, edges=gd.edges, directed=False)
    adj = build_adj_shards(g, salt_cap=5)
    rows = adj.shards.collect()
    # cap respected
    assert all(len(r["dst_list"]) <= 5 for r in rows)
    assert all(len(r["dst_list"]) == len(r["w_list"]) for r in rows)
    # every symmetrized edge present exactly once across salt rows
    n_edges = g.symmetric_edges().count()
    assert sum(len(r["dst_list"]) for r in rows) == n_edges
    # hubs split across multiple salts; salt_map covers exactly the split srcs
    split = {r["src"] for r in rows if r["salt"] > 0}
    hubs = {r["src"] for r in adj.salt_map.collect()}
    assert split <= hubs and len(hubs) > 0
    # normalized weights: per-src Σ w_norm == 1
    sums = (
        adj.shards.select(F.col("src"), F.explode("w_list").alias("w"))
        .groupBy("src")
        .agg(F.sum("w").alias("s"))
        .collect()
    )
    assert all(abs(r["s"] - 1.0) < 1e-9 for r in sums)
    adj.unpersist()


def test_sharded_pagerank_matches_plain(spark, sf_dir):
    g = web_graph(spark, sf_dir)
    plain = _pr_map(pagerank(g, fixed_iters=5, tol=None))
    adj = build_adj_shards(g, salt_cap=3)  # force heavy salting
    sharded = _pr_map(pagerank(g, fixed_iters=5, tol=None, shards=adj, shards_min_edges=0))
    assert plain.keys() == sharded.keys()
    assert all(abs(plain[k] - sharded[k]) < 1e-9 for k in plain)
    adj.unpersist()


def test_shards_auto_select_falls_back_below_threshold(spark, sf_dir):
    # default shards_min_edges (1M) >> the sf0.001 edge count: pagerank
    # silently takes the plain per-edge join and values are identical to
    # the forced shard kernel (both paths are value-gated)
    g = web_graph(spark, sf_dir)
    adj = build_adj_shards(g, dangling_sink=True)
    auto = _pr_map(pagerank(g, fixed_iters=5, tol=None, shards=adj))
    forced = _pr_map(
        pagerank(g, fixed_iters=5, tol=None, shards=adj, shards_min_edges=0)
    )
    assert auto.keys() == forced.keys()
    assert all(abs(auto[k] - forced[k]) < 1e-9 for k in auto)
    adj.unpersist()


def test_sharded_pagerank_undirected_weighted(spark):
    g = make_graph(
        spark,
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 3)],
        n=5,
        directed=False,
        weights=[1.0, 2.0, 0.5, 4.0, 1.0],
    )
    plain = _pr_map(pagerank(g, fixed_iters=8, tol=None))
    adj = build_adj_shards(g, salt_cap=2)
    sharded = _pr_map(pagerank(g, fixed_iters=8, tol=None, shards=adj, shards_min_edges=0))
    assert all(abs(plain[k] - sharded[k]) < 1e-12 for k in plain)
    assert abs(sum(sharded.values()) - 1.0) < 1e-9
    adj.unpersist()


def test_convergence_with_shards(spark, sf_dir):
    g = web_graph(spark, sf_dir)
    adj = build_adj_shards(g)
    pr = pagerank(g, tol=1e-8, max_iter=200, shards=adj, shards_min_edges=0)
    total = pr.agg(F.sum("rank")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-6)
    adj.unpersist()


def test_dangling_sink_shards_match_plain(spark):
    # 3 and 4 are dangling (no out-edges); 2→3, 0→4 feed them rank mass
    g = make_graph(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (0, 4)], n=5)
    plain = _pr_map(pagerank(g, fixed_iters=10, tol=None))
    sink = build_adj_shards(g, salt_cap=2)
    assert sink.dangling_sink
    pr_sink = _pr_map(pagerank(g, fixed_iters=10, tol=None, shards=sink, shards_min_edges=0))
    # sink id -1 never leaks into results
    assert set(pr_sink) == set(plain) and -1 not in pr_sink
    assert all(abs(plain[k] - pr_sink[k]) < 1e-12 for k in plain)
    assert abs(sum(pr_sink.values()) - 1.0) < 1e-9
    # sink shard rows exist exactly for the dangling vertices
    sink_rows = sink.shards.where(F.col("w_out") == 0.0).collect()
    assert {r["src"] for r in sink_rows} == {3, 4}
    assert all(list(r["dst_list"]) == [-1] for r in sink_rows)
    # wout carries no sink rows
    assert sink.wout.where(F.col("src").isin(3, 4)).count() == 0
    sink.unpersist()


def test_pagerank_rejects_shards_without_sink(spark):
    g = make_graph(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (0, 4)], n=5)
    nosink = build_adj_shards(g, salt_cap=2, dangling_sink=False)
    assert nosink.shards.where(F.col("w_out") == 0.0).count() == 0
    with pytest.raises(ValueError, match="dangling_sink=True"):
        pagerank(g, fixed_iters=10, tol=None, shards=nosink, shards_min_edges=0)
    nosink.unpersist()


def test_compact_shards_match_f64_within_contract(spark, sf_dir):
    # int32 dst / float32 w_norm layout: ids exact, ranks within the north
    # rule's allclose 1e-6 of the float64 kernel (error bound 2^-23/(1-d))
    g = web_graph(spark, sf_dir)
    cp = build_adj_shards(g, salt_cap=3, dangling_sink=True, compact=True)
    assert dict(cp.shards.dtypes)["dst_list"] == "array<int>"
    assert dict(cp.shards.dtypes)["w_list"] == "array<float>"
    plain = _pr_map(pagerank(g, fixed_iters=10, tol=None))
    compact = _pr_map(
        pagerank(g, fixed_iters=10, tol=None, shards=cp, shards_min_edges=0)
    )
    assert plain.keys() == compact.keys()
    assert all(abs(plain[k] - compact[k]) < 1e-6 for k in plain)
    cp.unpersist()


def test_compact_shards_reject_wide_ids(spark):
    g = make_graph(spark, [(0, 1)], n=2, directed=True)
    g.vertices = spark.createDataFrame(
        [(0,), (2**31 + 5,)], "id long"
    )
    with pytest.raises(ValueError, match="2\\^31"):
        build_adj_shards(g, compact=True)


def test_compact_shards_accept_int32_max_id(spark):
    # 2^31-1 is a valid int32 value and inside the documented [0, 2^31)
    # range — the guard must not reject it (regression: off-by-one)
    g = make_graph(spark, [(0, 2**31 - 1)], directed=True)
    cp = build_adj_shards(g, compact=True)
    row = cp.shards.where(F.col("src") == 0).first()
    assert row is not None and row["dst_list"] == [2**31 - 1]
    cp.unpersist()


def test_uniform_shards_auto_detect_and_match_plain(spark, sf_dir):
    # unit-weight projection: auto-detect drops w_list (4 B/edge compact
    # scan) and the computed 1/degree gather matches the plain float64
    # kernel to ~1 ulp (far inside the 1e-6 contract)
    from graphina_spark.graph import LinkGraph

    g = web_graph(spark, sf_dir)
    gu = LinkGraph(
        vertices=g.vertices,
        edges=g.edges.select("src", "dst", F.lit(1.0).alias("weight")),
        directed=True,
    )
    adj = build_adj_shards(gu, dangling_sink=True, compact=True)
    assert adj.uniform is True
    assert "w_list" not in adj.shards.columns
    plain = _pr_map(pagerank(gu, fixed_iters=5, tol=None))
    sharded = _pr_map(
        pagerank(gu, fixed_iters=5, tol=None, shards=adj, shards_min_edges=0)
    )
    assert plain.keys() == sharded.keys()
    assert all(abs(plain[k] - sharded[k]) < 1e-12 for k in plain)
    adj.unpersist()


def test_uniform_shards_not_detected_on_weighted(spark, sf_dir):
    g = web_graph(spark, sf_dir)  # weights 1..5
    adj = build_adj_shards(g, dangling_sink=True)
    assert adj.uniform is False and "w_list" in adj.shards.columns
    adj.unpersist()
