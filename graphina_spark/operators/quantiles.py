"""Exact global quantiles (percentile_disc semantics) without a global
sort — the corpus statistic behind every length-filter threshold choice
("trim below the 1st decile, above the 9th") in a webtext pipeline.

``percentile_approx`` is not cross-engine (sketch internals differ) and a
``Window.orderBy`` with no partition funnels the corpus through one task;
instead:

1. value histogram — one keyed aggregation, output bounded by the number
   of DISTINCT values (for doc-length-like columns, thousands at most,
   independent of corpus size);
2. exclusive global prefix sum over the histogram via the one-pass
   range-partitioned pattern (plans/ordered.py::global_cumsum — no
   single-task window even if the value domain grows);
3. quantile k/q = min value whose inclusive cumulative count ≥
   ceil(k·n/q), with the rank computed in INTEGER arithmetic
   ((k·n + q − 1) div q) — float ``q*n`` flips ceil() at exact decile
   boundaries (0.1·500 = 50.000000000000006), integers never do.

DuckDB twin: oracles_text.py::len_deciles_sql (same histogram + running
sum + integer rank rule — a mirror, because engine-native
percentile_disc computes its rank in floats and is off-by-one exactly on
round boundaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphina_spark.plans.ordered import global_cumsum


def exact_quantiles(
    df: DataFrame, col: str, q: int = 10
) -> DataFrame:
    """(k, value): for k = 1..q-1, the smallest ``col`` value whose
    cumulative count reaches ceil(k·n/q) — exact percentile_disc."""
    hist = df.groupBy(F.col(col).alias("v")).agg(F.count("*").alias("cnt"))
    pre = global_cumsum(hist, ["v"], "cnt", out_col="prefix")
    tot = df.agg(F.count("*").alias("n"))
    ks = df.sparkSession.range(1, q).select(F.col("id").cast("int").alias("k"))
    ranked = (
        pre.withColumn("cum", F.col("prefix") + F.col("cnt"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ks))
        .where(
            # `div` = JVM long division (plain `/` is double and loses
            # exactness past 2^53)
            F.col("cum")
            >= F.expr(f"(CAST(k AS BIGINT) * n + {q - 1}) div {q}")
        )
    )
    return ranked.groupBy("k").agg(F.min("v").alias("value"))
