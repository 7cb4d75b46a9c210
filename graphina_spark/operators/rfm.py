"""RFM (recency / frequency / monetary) user scoring over the event stream.

The canonical behavioral segmentation (Hughes 1994; every clickstream
warehouse ships it): per user, days since last event (R), event count (F),
total value (M), each bucketed into quintiles → the "555 / 111" segment
codes marketing and retention pipelines key on.

Engine-portable quintiles: ``ntile`` is nondeterministic under ties across
engines, so scores are computed by rank arithmetic instead —
``score = 1 + floor(5 · (rank − 1) / n)`` over a TOTAL order with the id as
the final tie-break ((metric, uid) ascending; recency ranks DESCENDING on
days-since so fresher = higher score).  Exact integers end to end.

Scale shape: one groupBy(user) aggregation (map-side combined), then three
global rank assignments via the one-pass range-partition cumsum pattern —
but since the ranked frame is ALREADY one row per user (≤ users, not
events), a plain window over a range partitioning is acceptable at any
realistic user count; we reuse plans/ordered.py::global_cumsum to keep the
no-single-task guarantee anyway.  DuckDB twin: oracles.py::rfm_events_sql.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ANCHOR = "TIMESTAMP_NTZ'2000-01-01 00:00:00'"
DAY_S = 86_400


def rfm_scores(events: DataFrame) -> DataFrame:
    """(uid, recency_days, frequency, monetary, r, f, m) — raw RFM metrics
    plus 1–5 quintile scores (5 = best: most recent / most frequent /
    highest value).  ``monetary`` is the 2-dp-rounded sum of ``value``."""
    from graphina_spark.plans.ordered import global_cumsum

    ev = events.select(
        F.col("user_id").cast("long").alias("uid"),
        F.expr(f"timestampdiff(SECOND, {ANCHOR}, ts)").alias("es"),
        F.col("value").cast("double").alias("v"),
    )
    horizon = ev.agg(F.max("es").alias("h"))
    base = (
        ev.groupBy("uid")
        .agg(
            F.max("es").alias("last_es"),
            F.count("*").alias("frequency"),
            F.round(F.sum("v"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            "uid",
            F.floor((F.col("h") - F.col("last_es")) / F.lit(DAY_S))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    n = base.count()

    def _score(df: DataFrame, metric, asc_best: bool, out: str) -> DataFrame:
        # rank over (metric, uid) — ascending metric; score maps rank 1..n
        # to 1..5.  For "smaller is better" metrics (recency) the score is
        # inverted so 5 is always best.
        ranked = global_cumsum(
            df.withColumn("_one", F.lit(1)),
            [metric, "uid"],
            "_one",
            out_col="_rank",
        )
        # global_cumsum is EXCLUSIVE (first row 0) → _rank is the 0-based rank
        q = (1 + F.floor(5 * F.col("_rank") / F.lit(n))).cast("int")
        score = q if asc_best else (6 - q).cast("int")
        return ranked.withColumn(out, score).drop("_rank", "_one")

    out = _score(base, "recency_days", False, "r")
    out = _score(out, "frequency", True, "f")
    out = _score(out, "monetary", True, "m")
    return out.select(
        "uid", "recency_days", "frequency", "monetary", "r", "f", "m"
    )
