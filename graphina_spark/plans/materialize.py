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

The trade: checkpointed frames lose their inherited "small" size and are no
longer auto-broadcast — the right default for web-scale supersteps (a rank
vector never broadcasts at 10^12 vertices; sessions from
``graphina_spark.session.get_spark`` prefer shuffled-hash joins instead).

The re-wrap calls JVM-internal constructors of the pinned Spark: if they
drift it raises, never silently dropping the stats fix or the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` with flat lineage, non-inherited stats, and
    preserved output partitioning.

    ``eager=False`` defers the checkpoint's execution to the first action
    that reads it, so the materialization needs no job of its own.  Correct
    ONLY when the frame is consumed exactly once before the next checkpoint
    (a doubly-referenced lazy frame would recompute) and its inputs stay
    cached until that action has run — plans/superstep.py decides when
    that holds.

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
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        ck = df.localCheckpoint(eager=eager)
    finally:
        spark.conf.set(key, prev)
    # rebuild the LogicalRDD leaf minus originStats/originConstraints.
    # Constructor (Spark 4.x): LogicalRDD(output, rdd, outputPartitioning,
    # outputOrdering, isStreaming, stream: Option)(session, originStats:
    # Option, originConstraints: Option) — curried lists flatten in bytecode.
    jvm = spark.sparkContext._jvm
    leaf = ck._jdf.queryExecution().analyzed()
    if leaf.getClass().getName() != "org.apache.spark.sql.execution.LogicalRDD":
        raise TypeError("checkpoint did not produce a LogicalRDD leaf")
    none = jvm.scala.Option.empty()
    fresh_leaf = jvm.org.apache.spark.sql.execution.LogicalRDD(
        leaf.output(),
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
