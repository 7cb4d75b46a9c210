"""Degree-preserving null models — the configuration model as a
deterministic distributed construction.

Network-science workflows compare every structural metric (assortativity,
clustering, rich-club, modularity) against a degree-preserving random null
model (Newman 2003; Maslov-Sneppen).  The classic construction is stub
matching: cut every edge into two stubs, shuffle the 2m stubs, pair them
off.  A sequential Fisher-Yates shuffle does not distribute; instead the
stubs are ranked by the repo's portable per-(vertex, stub) hash — a fixed
pseudo-random permutation both engines replay bit-identically — and paired
by consecutive rank (rank 2i ↔ 2i+1).

Scale shape:

- stub explosion is ``sequence(0, deg-1)`` per vertex — output exactly 2m
  rows, map-side only;
- the global rank uses the one-pass range-partitioned prefix sum
  (plans/ordered.py::global_cumsum) — NO single-task global window;
- pairing is ONE groupBy on ``rank // 2`` (2m rows, two per group).

Self-loops and multi-edges occur with the usual O(<k²>/m) frequency — they
are retained (the standard configuration-model contract; callers who need a
simple graph filter/collapse downstream, which biases the degree sequence
and is therefore not done silently here).

Determinism means this is ONE draw from the configuration-model ensemble,
not an ensemble average — the right contract for a reproducible pipeline
(a seed parameter varies the draw).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph
from graphina_spark.operators.approximation import PRI_A1, PRI_A2, PRI_B
from graphina_spark.operators.distmetrics import ANF_P
from graphina_spark.plans.ordered import global_cumsum


def _stub_hash(id_col: F.Column, stub: F.Column, seed: int) -> F.Column:
    h1 = (id_col * F.lit(PRI_A1) + stub + F.lit(PRI_B + seed * PRI_A2)) % F.lit(ANF_P)
    h2 = (h1 * h1 + F.lit(PRI_A1)) % F.lit(ANF_P)
    h3 = (h2 * h2 + F.lit(PRI_A2)) % F.lit(ANF_P)
    return h3


def configuration_model(g: LinkGraph, seed: int = 0) -> DataFrame:
    """(src, dst, multiplicity) — one deterministic stub-matching draw of
    the configuration model over the degree sequence of the simple
    undirected projection.  Edges are canonical (src <= dst; self-loops
    allowed), with ``multiplicity`` counting parallel draws.

    The stub permutation is the portable hash over (vertex, stub index,
    seed) — distinct seeds give independent-looking draws; the identical
    construction runs in the DuckDB oracle.
    """
    canon = g.canonical_undirected_edges(dedup=True)
    cdeg = (
        canon.select(F.col("src").alias("id"))
        .unionAll(canon.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    stubs = cdeg.select(
        "id", F.explode(F.sequence(F.lit(0), F.col("deg") - 1)).alias("stub")
    ).select("id", "stub", _stub_hash(F.col("id"), F.col("stub"), seed).alias("h"))
    ranked = global_cumsum(
        stubs.withColumn("one", F.lit(1)),
        order_cols=["h", "id", "stub"],
        value_col="one",
        out_col="r",
    )
    paired = ranked.select(
        "id", (F.col("r") / 2).cast("long").alias("pair"), (F.col("r") % 2).alias("side")
    )
    edges = paired.groupBy("pair").agg(
        F.max(F.when(F.col("side") == 0, F.col("id"))).alias("a"),
        F.max(F.when(F.col("side") == 1, F.col("id"))).alias("b"),
    )
    return (
        edges.select(
            F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("multiplicity"))
    )


def _pearson_r(sym_jk: DataFrame) -> float:
    """Pearson r over symmetrized (j, k, m) endpoint-degree rows (m = edge
    multiplicity).  Integer-exact moment sums; one float division at the end."""
    row = sym_jk.agg(
        F.sum("m").alias("n"),
        F.sum(F.col("m") * F.col("j")).alias("sx"),
        F.sum(F.col("m") * F.col("j") * F.col("j")).alias("sxx"),
        F.sum(F.col("m") * F.col("j") * F.col("k")).alias("sxy"),
    ).first()
    n = float(row["n"])
    if n == 0:
        return 0.0
    mx = row["sx"] / n
    den = row["sxx"] / n - mx * mx
    if den == 0.0:
        return 0.0
    return (row["sxy"] / n - mx * mx) / den


def assortativity_null_delta(g: LinkGraph, seed: int = 0) -> DataFrame:
    """One row (real_r, null_r, delta) — Newman degree assortativity of the
    simple undirected projection vs the SAME metric on one deterministic
    configuration-model draw over the identical degree sequence.

    The null draw preserves every vertex degree, so the marginal degree
    distributions are equal by construction and the delta isolates pure
    pairing structure — the standard "is my graph assortative beyond what
    its degree sequence forces" readout (Newman 2002; Maslov-Sneppen).

    Scale shape: two endpoint-degree joins + two 4-scalar aggregations on
    top of the configuration-model construction; all moment sums are
    integer-exact, so both engines agree to the final division.
    """
    spark = g.vertices.sparkSession
    canon = g.canonical_undirected_edges(dedup=True).cache()
    cdeg = (
        canon.select(F.col("src").alias("id"))
        .unionAll(canon.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    ).cache()

    def sym_jk(edges: DataFrame, mult: bool) -> DataFrame:
        m = F.col("multiplicity") if mult else F.lit(1)
        e = edges.select("src", "dst", m.cast("long").alias("m"))
        both = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "m")
        )
        return (
            both.join(cdeg.select(F.col("id").alias("src"), F.col("deg").alias("j")), "src")
            .join(cdeg.select(F.col("id").alias("dst"), F.col("deg").alias("k")), "dst")
            .select("j", "k", "m")
        )

    real_r = _pearson_r(sym_jk(canon, mult=False))
    null_edges = configuration_model(g, seed=seed)
    null_r = _pearson_r(sym_jk(null_edges, mult=True))
    return spark.createDataFrame(
        [(float(real_r), float(null_r), float(real_r - null_r))],
        "real_r double, null_r double, delta double",
    )
