"""Every superstep kernel releases what it cached before it returns: the
session's cache manager is as empty after the call as before it."""

import pytest
from pyspark import StorageLevel
from pyspark.errors import NumberFormatException
from pyspark.sql import functions as F

from conftest import make_graph

import graphina_spark.plans.shards as shards_mod
from graphina_spark.operators.components import connected_components
from graphina_spark.operators.lpa import label_propagation, seeded_label_propagation
from graphina_spark.operators.pagerank import pagerank
from graphina_spark.operators.triangles import (
    clustering_coefficients,
    sampled_triangle_count,
    transitivity,
    triangles,
)
from graphina_spark.plans.checkpoint import CheckpointManager
from graphina_spark.plans.shards import build_adj_shards

# 3, 4 and 6 are dangling; {5, 6} is a second component
EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (0, 4), (5, 6)]

# kernel name -> call(g, shards, checkpoint, stats)
KERNELS = {
    "cc": lambda g, adj, ck, st: connected_components(g),
    "lpa": lambda g, adj, ck, st: label_propagation(g, max_iter=5),
    "seeded_lpa": lambda g, adj, ck, st: seeded_label_propagation(
        g, g.vertices.where(F.col("id") < 2).withColumn("label", F.col("id")),
        fixed_iters=2),
    # the kernel builds its own shards
    "pagerank_default": lambda g, adj, ck, st: pagerank(g, fixed_iters=3, tol=None),
    # the caller's shards
    "pagerank_shards": lambda g, adj, ck, st: pagerank(
        g, fixed_iters=3, tol=None, shards=adj),
    "pagerank_checkpoint": lambda g, adj, ck, st: pagerank(
        g, fixed_iters=3, tol=None, checkpoint=ck),
    "pagerank_tol_early_exit": lambda g, adj, ck, st: pagerank(
        g, tol=1e-2, max_iter=100, stats=st),
}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("kernel", list(KERNELS))
def test_kernel_leaves_cache_manager_empty(spark, tmp_path, kernel):
    g = make_graph(spark, EDGES, n=7, directed=True)
    spark.catalog.clearCache()
    adj = build_adj_shards(g, salt_cap=2) if kernel == "pagerank_shards" else None
    ck = CheckpointManager(str(tmp_path), "leak", {})
    stats: dict = {}
    out = KERNELS[kernel](g, adj, ck, stats)
    if adj is not None:
        adj.unpersist()  # the caller's shards, not the kernel's cache
    assert _cache_empty(spark)
    if kernel == "pagerank_tol_early_exit":
        assert stats["iterations"] < 100
    # the result is still readable after the kernel's caches are gone
    assert out.count() == 7


# kernel name -> (call(g) that raises after the kernel cached its frames,
# the exception it raises)
RAISING = {
    # nstart is validated after the shards and vinfo are cached
    "pagerank_nstart_zero": (lambda g: pagerank(
        g, nstart=g.vertices.select("id", F.lit(0.0).alias("value"))), ValueError),
    # a non-numeric seed label fails its cast when the seed frame is cached
    "seeded_lpa_bad_seed": (lambda g: seeded_label_propagation(
        g, g.vertices.where(F.col("id") < 2).withColumn("label", F.lit("x")),
        fixed_iters=2), NumberFormatException),
}


@pytest.mark.parametrize("kernel", list(RAISING))
def test_raising_kernel_leaves_cache_manager_empty(spark, kernel):
    g = make_graph(spark, EDGES, n=7, directed=True)
    spark.catalog.clearCache()
    call, exc = RAISING[kernel]
    with pytest.raises(exc):
        call(g)
    assert _cache_empty(spark)


@pytest.mark.parametrize("via", ["build", "pagerank"])
def test_raising_build_leaves_cache_manager_empty(spark, monkeypatch, via):
    """A shard build that raises after it cached ``wout`` releases it, also
    when ``pagerank`` started the build."""
    g = make_graph(spark, EDGES, n=7, directed=True)
    spark.catalog.clearCache()

    def fail(df):
        raise RuntimeError("shard cache failed")

    monkeypatch.setattr(shards_mod, "partitioned_cache", fail)
    with pytest.raises(RuntimeError, match="shard cache failed"):
        if via == "build":
            build_adj_shards(g)
        else:
            pagerank(g, fixed_iters=3, tol=None)
    assert _cache_empty(spark)


@pytest.mark.parametrize("salt_cap", [100_000, 2], ids=["same_plan", "other_salt_cap"])
def test_kernel_build_keeps_caller_shard_cache(spark, salt_cap):
    """Spark matches cache entries by plan, so the shards ``pagerank``
    builds share the entries of a caller's build over the same graph; the
    kernel releases only the frames it cached itself."""
    g = make_graph(spark, EDGES, n=7, directed=True)
    spark.catalog.clearCache()
    adj = build_adj_shards(g, salt_cap=salt_cap)
    out = pagerank(g, fixed_iters=3, tol=None)
    for df in (adj.shards, adj.salt_map, adj.wout):
        assert df.storageLevel != StorageLevel.NONE
    adj.unpersist()
    assert _cache_empty(spark)
    assert out.count() == 7


@pytest.mark.parametrize("shards", ["kernel", "caller"])
def test_raising_sink_read_leaves_cache_manager_empty(spark, monkeypatch, shards):
    """A PageRank step caches its gather, then reads the sink group: when
    that read raises, the gather it just cached is released too, and so
    are the shards the kernel built."""
    g = make_graph(spark, EDGES, n=7, directed=True)
    spark.catalog.clearCache()
    adj = build_adj_shards(g) if shards == "caller" else None
    sc = spark.sparkContext
    cls = type(g.vertices)
    real = cls.collect
    raised = []

    def collect(self):
        # the step's action is the first collect of superstep 0; the shard
        # build's probe (a first()) runs before it, under no description
        if not raised and sc.getLocalProperty("spark.job.description") == "pagerank:0":
            raised.append(1)
            raise RuntimeError("sink read failed")
        return real(self)

    monkeypatch.setattr(cls, "collect", collect)
    with pytest.raises(RuntimeError, match="sink read failed"):
        pagerank(g, fixed_iters=3, tol=None, shards=adj)
    monkeypatch.undo()
    assert raised
    if adj is not None:
        adj.unpersist()
    assert _cache_empty(spark)


# function name -> (call(g), read(result) -> value, the value): one
# triangle, 0-1-2; degrees 3, 2, 3, 1, 1, 1, 1
TRIANGLES = {
    "triangles": (triangles, lambda df: {r["id"]: r["triangles"] for r in df.collect()},
                  {0: 1, 1: 1, 2: 1, 3: 0, 4: 0, 5: 0, 6: 0}),
    "transitivity": (transitivity, lambda t: t, 3 / 7),
    "clustering_coefficients": (
        clustering_coefficients,
        lambda df: {r["id"]: round(r["clustering"], 12) for r in df.collect()},
        {0: round(1 / 3, 12), 1: 1.0, 2: round(1 / 3, 12), 3: 0.0, 4: 0.0, 5: 0.0, 6: 0.0}),
    "sampled_triangle_count": (
        lambda g: sampled_triangle_count(g, 1.0),
        lambda df: tuple(df.first()), (6, 1, 1.0)),
}


@pytest.mark.parametrize("fn", list(TRIANGLES))
def test_triangles_leave_cache_manager_empty(spark, fn):
    g = make_graph(spark, EDGES, n=7, directed=False)
    spark.catalog.clearCache()
    call, read, want = TRIANGLES[fn]
    out = call(g)
    assert _cache_empty(spark)
    # the result is still readable, and reading it caches nothing
    assert read(out) == want
    assert _cache_empty(spark)
