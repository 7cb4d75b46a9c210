"""Community cut quality: volume, cut weight, and conductance per community.

conductance(S) = w(cut(S)) / min(vol(S), vol(V\\S)) — the standard cluster
quality measure (Kannan-Vempala-Vetta; the quantity seed-set expansion and
community-evaluation pipelines threshold on for web graphs).  Complements
operators/metrics.py::modularity (the quantity the reference's community
oracle pins, tests/oracle_community_tests.rs:150) with the per-community
view: modularity is one global scalar, conductance ranks individual
communities by how leaky they are.

Semantics over the symmetrized (both-directions) edge frame, matching the
degree conventions of the LPA/WCC oracles:

- vol(S)  = sum of weights of symmetrized rows whose src is in S
            (= weighted degree sum of S's members; self-loops twice),
- cut(S)  = sum of weights of symmetrized rows leaving S (each undirected
            cut edge counted once per side, i.e. once in THIS community's
            row and once in the neighbor's),
- conductance = cut / min(vol, total_vol - vol); 0.0 when the denominator
  is 0 (empty or full community).

Scale shape: two broadcast-or-shuffle joins of labels onto the edge frame
(labels are (id, community) — tiny relative to edges at any scale, and the
join key is the edge endpoint so AQE broadcasts when labels fit), one
``groupBy(community)``, one 1-row total broadcast.  No self-joins, no
per-community iteration.  This is an extension beyond the reference (no
conductance in habedi/graphina); DuckDB twin: oracles.py::conductance_web_sql.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph

ROUND = 6


def community_cut_metrics(g: LinkGraph, communities: DataFrame) -> DataFrame:
    """(community, volume, cut, internal, conductance) per community.

    ``communities`` is (id, community); vertices absent from it are ignored
    (their edges still count toward the other endpoint's cut if labeled).
    """
    sym = g.undirected_view()
    lab = communities.select("id", "community")
    e = (
        sym.join(lab.select(F.col("id").alias("src"), F.col("community").alias("ca")), "src")
        .join(lab.select(F.col("id").alias("dst"), F.col("community").alias("cb")), "dst")
    )
    per = e.groupBy(F.col("ca").alias("community")).agg(
        F.sum("weight").alias("volume"),
        F.sum(F.when(F.col("ca") != F.col("cb"), F.col("weight")).otherwise(0.0)).alias(
            "cut"
        ),
    )
    total = per.agg(F.sum("volume").alias("tot"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "community",
            F.round("volume", ROUND).alias("volume"),
            F.round("cut", ROUND).alias("cut"),
            F.round(F.col("volume") - F.col("cut"), ROUND).alias("internal"),
            F.round(
                F.when(
                    F.least(F.col("volume"), F.col("tot") - F.col("volume")) > 0,
                    F.col("cut")
                    / F.least(F.col("volume"), F.col("tot") - F.col("volume")),
                ).otherwise(0.0),
                ROUND,
            ).alias("conductance"),
        )
    )


def sweep_cut(g: LinkGraph, scores: DataFrame, score_col: str = "score") -> DataFrame:
    """Minimum-conductance sweep cut over a vertex ordering — the classic
    second step of spectral partitioning (order vertices by an embedding /
    eigenvector / score, evaluate the conductance of every prefix, return
    the best threshold).  Cheeger's inequality guarantees a good sweep cut
    exists when the ordering is the Fiedler vector; any score column works
    (PIC embedding from operators/spectral.py, PageRank, ids on planted
    block layouts).

    Returns ONE row ``(n_side, cut_edges, volume, conductance)``: the size
    of the best prefix S (ordered by (score, id) ascending), the number of
    undirected edges leaving it, its volume (sum of undirected degrees),
    and cut/min(vol(S), vol(V)-vol(S)).  Simple-graph semantics: distinct
    undirected edges, self-loops dropped — every quantity is an exact
    integer until the final ratio, so the result is bit-stable across
    engines and parallelism levels.  Ties broken toward the smallest
    prefix.

    Scale shape: NO per-prefix work.  Each undirected edge (ranks r1 < r2)
    is cut by exactly the prefixes r1 <= t < r2, so the cut profile is the
    running sum of +1@r1 / -1@r2 deltas and the volume profile is the
    running sum of degrees — both global ordered prefix sums
    (plans/ordered.py::global_cumsum): rank assignment = one call, the
    (volume, cut) profiles = one more call over both columns (one range
    partitioning, one window), plus the edge-rank join.  Driver state is
    O(#partitions) offsets; the argmin is a TakeOrdered(1).  DuckDB twin:
    oracles.py::sweep_cut_block_sql.
    """
    from graphina_spark.plans.materialize import local_materialize as _mat
    from graphina_spark.plans.ordered import global_cumsum

    sc = scores.select("id", F.col(score_col).alias("_score"))
    ranks = (
        global_cumsum(
            g.vertices.select("id").join(sc, "id", "left")
            .select("id", F.coalesce("_score", F.lit(0.0)).alias("_score"))
            .withColumn("_one", F.lit(1)),
            ["_score", "id"],
            "_one",
            out_col="rank",
        )
        .select("id", "rank")
        .transform(_mat)
    )

    und = g.canonical_undirected_edges()
    deg = (
        und.select(F.col("src").alias("id"))
        .unionAll(und.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    er = (
        und.join(ranks.select(F.col("id").alias("src"), F.col("rank").alias("ra")), "src")
        .join(ranks.select(F.col("id").alias("dst"), F.col("rank").alias("rb")), "dst")
        .select(F.least("ra", "rb").alias("minr"), F.greatest("ra", "rb").alias("maxr"))
    )
    delta = (
        er.select(F.col("minr").alias("rank"), F.lit(1).alias("d"))
        .unionAll(er.select(F.col("maxr").alias("rank"), F.lit(-1).alias("d")))
        .groupBy("rank")
        .agg(F.sum("d").alias("dlt"))
    )
    rv = (
        ranks.join(deg, "id", "left")
        .join(delta, "rank", "left")
        .select(
            "rank",
            F.coalesce("deg", F.lit(0)).alias("deg"),
            F.coalesce("dlt", F.lit(0)).alias("dlt"),
        )
    )

    # inclusive (volume, cut) profiles: both exclusive prefixes in one
    # global_cumsum (one range partitioning, one sums job, one window),
    # plus the row's own value
    pre = global_cumsum(rv, ["rank"], ["deg", "dlt"], out_col=["_pd", "_pc"]).select(
        "rank",
        (F.col("_pd") + F.col("deg")).alias("vol"),
        (F.col("_pc") + F.col("dlt")).alias("cut"),
    )
    m2 = pre.agg(F.max("vol").alias("m2"))
    best = (
        pre.crossJoin(F.broadcast(m2))
        .where(F.least(F.col("vol"), F.col("m2") - F.col("vol")) > 0)
        .select(
            (F.col("rank") + 1).alias("n_side"),
            F.col("cut").alias("cut_edges"),
            F.col("vol").alias("volume"),
            F.round(
                F.col("cut") / F.least(F.col("vol"), F.col("m2") - F.col("vol")),
                ROUND,
            ).alias("conductance"),
            "rank",
        )
        .orderBy("conductance", "rank")
        .limit(1)
        .drop("rank")
    )
    return best
