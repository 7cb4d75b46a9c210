"""Superstep materialization that does not inherit exploding statistics.

``DataFrame.localCheckpoint`` preserves the parent plan's *computed*
statistics into the new ``LogicalRDD`` leaf (originStats).  Catalyst's
size-only estimator multiplies child sizes at every join, so in an iterative
kernel the leaf size becomes S^(k^rounds) — the BigInteger carrying it
doubles in bit-length k× per round and after ~10 rounds the stats
computation itself OOMs the driver (observed: Louvain/Borůvka under default
1 GiB heap; every superstep kernel here walks the same cliff at enough
iterations).

:func:`local_materialize` checkpoints eagerly, then rebuilds the
materialized ``LogicalRDD`` leaf WITHOUT origin stats (constant
``defaultSizeInBytes``), so per-round stats work is O(1) forever — while
KEEPING the leaf's ``outputPartitioning``/``outputOrdering``.  Preserving
the partitioning metadata matters as much as the stats fix: a superstep's
output is hash-partitioned by vertex id (it ends in a ``groupBy(id)`` or an
id-keyed join), and when the next iteration joins it back against the
id/src-partitioned cached frames, EnsureRequirements can then skip the
rank-vector exchange entirely — one shuffle per superstep (the message
aggregation) instead of two or three.  At 10^12 vertices the rank vector
re-shuffle this removes is ~16 TB of needless network per superstep.

Checkpointed frames lose their inherited "small" size as well, so even
outside the superstep loop a materialized state is not auto-broadcast (a
rank vector never broadcasts at 10^12 vertices).  Inside the loop the join
plan does not rest on size estimates at all: plans/superstep.py turns
auto-broadcast off and every graph-sized kernel join carries a
``shuffle_hash`` hint.

The re-wrap calls JVM-internal constructors of the pinned Spark: if they
drift it raises, never silently dropping the stats fix or the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from graphina_spark.session import pinned_conf

_AQE_OFF = {"spark.sql.adaptive.enabled": "false"}


def local_materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` with flat lineage, non-inherited stats, and
    preserved output partitioning.

    ``eager=False`` defers the checkpoint's execution to the first action
    that reads it, so the materialization needs no job of its own.  The
    checkpoint RDD is persisted from the start, so when two stages of one
    job read the lazy frame it is computed once, and later actions read the
    stored blocks.  Until an action has computed it, the frame is a plan
    over its inputs: they must stay cached, and a chain of uncomputed lazy
    frames grows the lineage like no materialization at all — :func:`settle`
    computes it, and plans/superstep.py settles every state before it
    releases that state's inputs.

    AQE is disabled around the checkpoint: physical planning happens inside
    ``localCheckpoint(eager=True)``, and under AQE the leaf comes back as
    ``UnknownPartitioning`` (an ``AdaptiveSparkPlanExec``'s final
    partitioning is invisible to ``LogicalRDD.fromDataset``; a coalesced
    shuffle genuinely is not a hash partitioning, so it could not be claimed
    anyway).  Superstep shapes are static and pre-partitioned — the two
    things AQE exists to fix at runtime are already fixed at design time —
    and its per-stage re-planning costs ~0.5 s/superstep of driver latency
    at local[32] (measured, PLANS.md).  Ad-hoc queries outside the
    superstep kernels keep the session's AQE setting.
    """
    spark = df.sparkSession
    with pinned_conf(spark, _AQE_OFF):
        ck = df.localCheckpoint(eager=eager)
    # rebuild the LogicalRDD leaf minus originStats/originConstraints.
    # Constructor (Spark 4.x): LogicalRDD(output, rdd, outputPartitioning,
    # outputOrdering, isStreaming, stream: Option)(session, originStats:
    # Option, originConstraints: Option) — curried lists flatten in bytecode.
    # The output is the executed plan's: the checkpoint's partitioning and
    # ordering name its attributes, which differ from the logical output
    # where the optimizer dropped an ``x AS x`` alias (the partitioning
    # would then match no output column and be useless).
    jvm = spark.sparkContext._jvm
    leaf = ck._jdf.queryExecution().analyzed()
    if leaf.getClass().getName() != "org.apache.spark.sql.execution.LogicalRDD":
        raise TypeError("checkpoint did not produce a LogicalRDD leaf")
    none = jvm.scala.Option.empty()
    fresh_leaf = jvm.org.apache.spark.sql.execution.LogicalRDD(
        df._jdf.queryExecution().executedPlan().output(),
        leaf.rdd(),
        leaf.outputPartitioning(),
        leaf.outputOrdering(),
        leaf.isStreaming(),
        leaf.stream(),
        spark._jsparkSession,
        none,  # originStats — the exploding-estimate carrier
        none,  # originConstraints
    )
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, fresh_leaf
    )
    return DataFrame(jdf, spark)


def settle(df: DataFrame) -> None:
    """Compute a :func:`local_materialize` frame unless an action already
    has: one RDD-level ``count()`` of its checkpoint RDD, which no SQL plan
    wraps."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    if not rdd.isCheckpointed():
        rdd.count()


def partitioned_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` with the cached plan built with AQE off (Spark plans
    it when ``cache()`` is called).  An adaptive cached plan reports
    ``UnknownPartitioning``, so every superstep join against it would
    re-shuffle the cached side; this one keeps the frame's hash
    partitioning, like :func:`local_materialize`."""
    with pinned_conf(df.sparkSession, _AQE_OFF):
        return df.cache()
