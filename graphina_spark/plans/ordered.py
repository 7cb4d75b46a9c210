"""Scalable global ordered prefix sums — the two-pass pattern behind every
"global running total" need (dense id assignment, sweep-cut profiles,
sequence packing, rank and quantile readouts).

A single global window (`Window.orderBy(...)` with no partition) funnels the
whole table through ONE task; instead:

1. range-partition by the order key (ranges are globally ordered across
   partitions) and PIN the partitioning (eager local materialize —
   ``repartitionByRange``'s reservoir sampling is nondeterministic across
   actions, so without the pin the offsets job and later jobs could see
   *different* range boundaries and misalign the offsets),
2. one tiny job collects per-partition value sums → exclusive partition
   offsets (O(#partitions) driver state),
3. a per-partition window (parallel) computes the within-partition running
   sum; global prefix = partition offset + local prefix.

The result is independent of where the sampler drew the range boundaries —
only the total order (order key, then tie-break) matters.  Several value
columns share one range partitioning, one offsets job and one window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphina_spark.plans.materialize import local_materialize as _mat


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
    spark = df.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parted = (
        df.repartitionByRange(p, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .transform(_mat)
    )
    sums = parted.groupBy("_pid").agg(
        *[F.sum(v).alias(f"_s{i}") for i, v in enumerate(values)]
    ).collect()
    rows, acc = [], [0] * len(values)
    for r in sorted(sums, key=lambda r: r["_pid"]):
        rows.append((r["_pid"], *acc))
        acc = [a + (r[f"_s{i}"] or 0) for i, a in enumerate(acc)]
    off = spark.createDataFrame(
        rows, ", ".join(["_pid int"] + [f"_o{i} long" for i in range(len(values))])
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        parted.select(
            "*",
            *[
                F.coalesce(F.sum(v).over(w), F.lit(0)).alias(f"_l{i}")
                for i, v in enumerate(values)
            ],
        )
        .join(F.broadcast(off), "_pid")
        .withColumns({
            oc: (F.col(f"_o{i}") + F.col(f"_l{i}")).cast("long")
            for i, oc in enumerate(outs)
        })
        .drop("_pid", *[f"_{x}{i}" for x in "lo" for i in range(len(values))])
    )
