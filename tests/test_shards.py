"""Salted CSR adjacency shards: structure invariants + PageRank over the
sharded gather against the pure-Python reference."""

import pytest
from pyspark.sql import functions as F

from graphina_spark.operators.pagerank import pagerank
from graphina_spark.plans.shards import build_adj_shards
from graphina_spark.sources.derived import web_graph
from tests.conftest import make_graph
from tests.reference_impl import ref_pagerank


def _pr_map(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def _ref_map(g, **kw):
    """``ref_pagerank`` over ``g``'s collected edges, keyed by vertex id."""
    ids = sorted(r["id"] for r in g.vertices.collect())
    pos = {v: i for i, v in enumerate(ids)}
    rows = g.edges.collect()
    ranks = ref_pagerank(
        len(ids),
        [(pos[r["src"]], pos[r["dst"]]) for r in rows],
        [r["weight"] for r in rows],
        directed=g.directed,
        **kw,
    )
    return dict(zip(ids, ranks))


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
    ref = _ref_map(g, fixed_iters=5)
    adj = build_adj_shards(g, salt_cap=3)  # force heavy salting
    sharded = _pr_map(pagerank(g, fixed_iters=5, tol=None, shards=adj))
    assert ref.keys() == sharded.keys()
    assert all(abs(ref[k] - sharded[k]) < 1e-9 for k in ref)
    adj.unpersist()


def test_sharded_pagerank_undirected_weighted(spark):
    g = make_graph(
        spark,
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 3)],
        n=5,
        directed=False,
        weights=[1.0, 2.0, 0.5, 4.0, 1.0],
    )
    ref = _ref_map(g, fixed_iters=8)
    adj = build_adj_shards(g, salt_cap=2)
    sharded = _pr_map(pagerank(g, fixed_iters=8, tol=None, shards=adj))
    assert all(abs(ref[k] - sharded[k]) < 1e-12 for k in ref)
    assert abs(sum(sharded.values()) - 1.0) < 1e-9
    adj.unpersist()


def test_convergence_with_shards(spark, sf_dir):
    g = web_graph(spark, sf_dir)
    adj = build_adj_shards(g)
    pr = pagerank(g, tol=1e-8, max_iter=200, shards=adj)
    total = pr.agg(F.sum("rank")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-6)
    adj.unpersist()


def test_dangling_sink_shards_match_plain(spark):
    # 3 and 4 are dangling (no out-edges); 2→3, 0→4 feed them rank mass
    g = make_graph(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (0, 4)], n=5)
    ref = _ref_map(g, fixed_iters=10)
    sink = build_adj_shards(g, salt_cap=2)
    pr_sink = _pr_map(pagerank(g, fixed_iters=10, tol=None, shards=sink))
    # sink id -1 never leaks into results
    assert set(pr_sink) == set(ref) and -1 not in pr_sink
    assert all(abs(ref[k] - pr_sink[k]) < 1e-12 for k in ref)
    assert abs(sum(pr_sink.values()) - 1.0) < 1e-9
    # sink shard rows exist exactly for the dangling vertices
    sink_rows = sink.shards.where(F.col("degree") == 0).collect()
    assert {r["src"] for r in sink_rows} == {3, 4}
    assert all(list(r["dst_list"]) == [-1] for r in sink_rows)
    # wout carries no sink rows
    assert sink.wout.where(F.col("src").isin(3, 4)).count() == 0
    sink.unpersist()


def test_build_rejects_shards_without_sink(spark):
    # the sink rows carry PageRank's dangling mass, so they are always built
    g = make_graph(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (0, 4)], n=5)
    with pytest.raises(ValueError, match="dangling_sink=False"):
        build_adj_shards(g, salt_cap=2, dangling_sink=False)


def test_int_dst_shards_match_f64(spark, sf_dir):
    # ids in [0, 2^31): int32 dsts, float64 weights — ranks match the
    # float64 reference to rounding
    g = web_graph(spark, sf_dir)
    adj = build_adj_shards(g, salt_cap=3)
    assert dict(adj.shards.dtypes)["dst_list"] == "array<int>"
    assert dict(adj.shards.dtypes)["w_list"] == "array<double>"
    ref = _ref_map(g, fixed_iters=10)
    sharded = _pr_map(pagerank(g, fixed_iters=10, tol=None, shards=adj))
    assert ref.keys() == sharded.keys()
    assert all(abs(ref[k] - sharded[k]) < 1e-12 for k in ref)
    adj.unpersist()


@pytest.mark.parametrize("wide", [2**31 + 5, -7], ids=["above_int32", "negative"])
def test_wide_dst_shards_are_bigint(spark, wide):
    # a dst outside [0, 2^31) keeps bigint dsts; PageRank is unchanged
    g = make_graph(spark, [(0, 1), (1, wide), (wide, 0), (1, 0)],
                   directed=True, weights=[1.0, 2.0, 0.5, 3.0])
    adj = build_adj_shards(g)
    assert dict(adj.shards.dtypes)["dst_list"] == "array<bigint>"
    assert dict(adj.shards.dtypes)["w_list"] == "array<double>"
    ref = _ref_map(g, fixed_iters=8)
    sharded = _pr_map(pagerank(g, fixed_iters=8, tol=None, shards=adj))
    assert ref.keys() == sharded.keys()
    assert all(abs(ref[k] - sharded[k]) < 1e-12 for k in ref)
    adj.unpersist()


def test_int32_max_dst_shards_are_int(spark):
    # 2^31-1 is a valid int32 value and inside [0, 2^31) — it must still
    # select int dsts (regression: off-by-one)
    g = make_graph(spark, [(0, 2**31 - 1)], directed=True)
    adj = build_adj_shards(g)
    assert dict(adj.shards.dtypes)["dst_list"] == "array<int>"
    row = adj.shards.where(F.col("src") == 0).first()
    assert row is not None and row["dst_list"] == [2**31 - 1]
    adj.unpersist()


def test_uniform_shards_auto_detect_and_match_plain(spark, sf_dir):
    # unit-weight projection: auto-detect drops w_list (4 B/edge scan of
    # int dsts) and the computed 1/degree gather matches the float64
    # reference to ~1 ulp (far inside the 1e-6 contract)
    from graphina_spark.graph import LinkGraph

    g = web_graph(spark, sf_dir)
    gu = LinkGraph(
        vertices=g.vertices,
        edges=g.edges.select("src", "dst", F.lit(1.0).alias("weight")),
        directed=True,
    )
    adj = build_adj_shards(gu)
    assert adj.uniform is True
    assert "w_list" not in adj.shards.columns
    ref = _ref_map(gu, fixed_iters=5)
    sharded = _pr_map(
        pagerank(gu, fixed_iters=5, tol=None, shards=adj)
    )
    assert ref.keys() == sharded.keys()
    assert all(abs(ref[k] - sharded[k]) < 1e-12 for k in ref)
    adj.unpersist()


def test_uniform_shards_not_detected_on_weighted(spark, sf_dir):
    g = web_graph(spark, sf_dir)  # weights 1..5
    adj = build_adj_shards(g)
    assert adj.uniform is False and "w_list" in adj.shards.columns
    adj.unpersist()
