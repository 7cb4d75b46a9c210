"""Regression: superstep materialization must not inherit multiplied
Catalyst size statistics — localCheckpoint alone carries originStats whose
BigInteger bit-length grows k× per iteration and eventually OOMs the driver
(observed with Louvain/Borůvka under a 1 GiB default heap)."""

from pyspark.sql import functions as F

from graphina_spark.operators.pagerank import pagerank
from graphina_spark.plans.materialize import local_materialize
from tests.conftest import make_graph


def _size_bits(df) -> int:
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()


def test_local_materialize_stats_stay_bounded(spark):
    df = local_materialize(
        spark.range(50).select(F.col("id"), F.lit(1.0).alias("w"))
    )
    bits = []
    for _ in range(5):
        j = (
            df.alias("a")
            .join(df.alias("b"), "id")
            .join(df.alias("c"), "id")
            .select("id", (F.col("a.w") + F.col("b.w")).alias("w"))
        )
        df = local_materialize(j)
        bits.append(_size_bits(df))
    # without the fix this sequence roughly triples per round (30, 86, 255…)
    assert max(bits) <= 64, bits
    assert df.count() == 50


def test_local_materialize_preserves_values(spark):
    base = spark.range(10).select(F.col("id"), (F.col("id") * 2.5).alias("x"))
    got = sorted(map(tuple, local_materialize(base).collect()))
    assert got == sorted(map(tuple, base.collect()))


def test_many_superstep_kernel_completes(spark):
    """30 fixed PageRank supersteps on a tiny graph: plan depth and stats
    must stay O(1) per iteration (this was fine for small counts and
    exploded beyond ~10-20 iterations before the fix)."""
    g = make_graph(spark, [(0, 1), (1, 2), (2, 0), (2, 3)], n=4, directed=True)
    pr = pagerank(g, fixed_iters=30, tol=None)
    rows = {r["id"]: r["rank"] for r in pr.collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-9


def test_local_materialize_keeps_hash_partitioning(spark):
    """An id-repartitioned frame keeps its HashPartitioning on the
    materialized leaf, which lets the next superstep's id-keyed join skip
    the exchange; Spark-internal drift must raise, not drop it."""
    df = local_materialize(spark.range(100).repartition("id"))
    leaf = df._jdf.queryExecution().analyzed()
    assert leaf.getClass().getSimpleName() == "LogicalRDD"
    part = leaf.outputPartitioning()
    assert part.getClass().getSimpleName() == "HashPartitioning"
    assert [e.sql() for e in _seq(part.expressions())] == ["id"]
    assert df.count() == 100


def test_local_materialize_partitioning_survives_dropped_alias(spark):
    """``col AS id`` over an ``id`` attribute is dropped by the optimizer, so
    the executed plan partitions by the source attribute: the materialized
    leaf must still be partitioned by one of its own output columns."""
    base = spark.range(100).select("id", (F.col("id") % 7).alias("x"))
    df = local_materialize(
        base.alias("a").select(F.col("a.id").alias("id"), "x").repartition("id")
    )
    leaf = df._jdf.queryExecution().analyzed()
    part = leaf.outputPartitioning()
    assert part.getClass().getSimpleName() == "HashPartitioning"
    assert part.references().subsetOf(leaf.outputSet())
    assert df.columns == ["id", "x"] and df.count() == 100


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()
