"""Scalable global ordered prefix sums — the one pattern behind every
"global running total" need (dense id assignment, sweep-cut profiles,
sequence packing, rank, quantile and AUC readouts).

A single global window (`Window.orderBy(...)` with no partition) funnels the
whole table through ONE task; instead, one pass over the data:

1. range-partition by the order key (ranges are globally ordered across
   partitions), tag every row with its partition id ``_pid`` and PIN the
   partitioning with a lazy local materialize.  ``localCheckpoint`` plans
   the range shuffle when it is called, so the ``RangePartitioner`` samples
   and fixes its bounds once, there (one job).  Its reservoir sampling is
   nondeterministic, so every later read must see these same bounds.
2. the partition-sums ``collect()`` is the pin's first action (one job): it
   computes and stores the pinned partitions, and every later read of the
   result gets those stored blocks, never a fresh range shuffle.  The
   driver folds the O(#partitions) sums into exclusive partition offsets
   and ships them back as one literal ``array<bigint>`` per value column,
   indexed by ``_pid`` — no driver-built frame, no join.
3. a per-partition window (parallel) computes the within-partition running
   sum; global prefix = partition offset + local prefix.  The window's
   ``Exchange hashpartitioning(_pid)`` is the plan's second shuffle.

The result is independent of where the sampler drew the range boundaries —
only the total order (order key, then tie-break) matters.  Several value
columns share one range partitioning, one sums job and one window.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphina_spark.plans.materialize import local_materialize


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | list[str],
    out_col: str | list[str] = "prefix",
) -> DataFrame:
    """Input columns + ``out_col`` = EXCLUSIVE global prefix sum of
    ``value_col`` in ``order_cols`` order (first row gets 0).  The order must
    be total (pass a unique tie-break column last) or the result is
    ill-defined.  ``value_col``/``out_col`` may be equal-length lists: each
    value column gets its own prefix column.  Values must be integral (the
    prefixes are longs).  Partitions: ``spark.sql.shuffle.partitions``."""
    values = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(values) != len(outs):
        raise ValueError(f"{len(values)} value columns but {len(outs)} out columns")
    p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    parted = local_materialize(
        df.repartitionByRange(p, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id()),
        eager=False,
    )
    sums = {
        r[0]: r[1:]
        for r in parted.groupBy("_pid").agg(*[F.sum(v) for v in values]).collect()
    }
    # the range partitioner may cut fewer than p partitions; every _pid < p
    part = [sums.get(pid, [0] * len(values)) for pid in range(p)]
    offsets = [
        list(accumulate((s[i] or 0 for s in part[:-1]), initial=0))
        for i in range(len(values))
    ]
    w = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return parted.select(
        *[c for c in parted.columns if c != "_pid"],
        *[
            (
                F.lit(offsets[i]).cast("array<bigint>")[F.col("_pid")]
                + F.coalesce(F.sum(v).over(w), F.lit(0))
            ).cast("long").alias(oc)
            for i, (v, oc) in enumerate(zip(values, outs))
        ],
    )


def rank_auc(scored: DataFrame) -> DataFrame:
    """One row (auc, npos, nneg) — tie-aware Mann-Whitney AUC of a
    (score, label) frame, label ∈ {0, 1}:

        AUC = (R⁺ − P(P+1)/2) / (P·N),  R⁺ = Σ average ranks of positives
              (ascending score, ties get the group mean rank)

    0.5 when either class is empty.  Ranks come from one groupBy(score),
    bounded by #distinct scores, and :func:`global_cumsum` over the group
    counts — no single-task window.  Tie groups are exact only for scores
    that are equal across engines: integers, or floats rounded before this
    call."""
    grp = scored.groupBy("score").agg(
        F.count("*").alias("cnt"), F.sum("label").alias("pos_c")
    )
    laid = global_cumsum(grp, order_cols=["score"], value_col="cnt", out_col="below")
    agg = laid.agg(
        F.sum("pos_c").alias("p"),
        F.sum("cnt").alias("t"),
        F.sum(F.col("pos_c") * (F.col("below") + (F.col("cnt") + 1) / 2.0)).alias(
            "rpos"
        ),
    )
    return agg.select(
        F.round(
            F.when(
                (F.col("p") == 0) | (F.col("t") - F.col("p") == 0), F.lit(0.5)
            ).otherwise(
                (F.col("rpos") - F.col("p") * (F.col("p") + 1) / 2.0)
                / (F.col("p") * (F.col("t") - F.col("p")))
            ),
            6,
        ).alias("auc"),
        F.col("p").cast("long").alias("npos"),
        (F.col("t") - F.col("p")).cast("long").alias("nneg"),
    )
