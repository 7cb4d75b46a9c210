"""Label propagation — synchronous, deterministic tie-break.

Reference: src/community/label_propagation.rs:34-97 — init ``labels[i] = i``
(:70), symmetrized adjacency (:62-68), per iteration take the most frequent
neighbor label, stop on no change or max_iter (:91-95).  The reference updates
*asynchronously* in a seeded-RNG shuffled node order with an unspecified
HashMap tie-break (:76-89) — unreproducible distributedly; its own test only
asserts shape (:101-126).  We pin the distributed-friendly variant:

- **synchronous** supersteps (all nodes update from the previous labeling)
- argmax tie broken deterministically by **(count desc, label asc)**

so results are identical across partitionings, parallelism levels and reruns.
Comparisons against the reference are partition-equality on fixtures whose
converged partition is unambiguous (cliques / planted partitions), the same
strategy the reference's oracle uses for Louvain (modularity, not labels).

Superstep = join labels→edges, groupBy(dst,label).count(), then a
packed-long argmax (plans/argmax.py) — two shuffles, both HASH
aggregations with map-side partial combine and no sort anywhere; the
labels→edges join and the update join are co-partitioned by id, and no
join is a broadcast (plans/superstep.py pins the plan).  The
controlled within-JVM comparison of the four argmax formulations
(BENCH/argmax_bench.py; table in plans/argmax.py) puts the packed
encoding first at every parallelism level — 4.5× over the original
``row_number`` window at local[32], whose real cost is shuffling the
FULL candidate frame (no partial aggregation), not the sort itself.
Bounds for the packing (max degree / max label id) are computed ONCE
per invocation and hold for every round (labels are always vertex
ids); past the 63-bit split the helper degrades to the struct-max
aggregate (still map-side combining), never the window.  See
BENCH/BASELINE.md §LPA for the kernel-level scaling triple.

The shared loop (:mod:`graphina_spark.plans.superstep`) runs the supersteps
of both kernels; unseeded LPA without ``fixed_iters`` stops at zero changes.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph
from graphina_spark.plans.argmax import argmax_long
from graphina_spark.plans.checkpoint import CheckpointManager
from graphina_spark.plans.materialize import partitioned_cache
from graphina_spark.plans.superstep import changed_count, run_supersteps


def _argmax_bounds(sym: DataFrame, label_frame: DataFrame,
                   label_col: str) -> dict:
    """argmax_long kwargs for the superstep argmax, computed once per
    kernel invocation: a neighbor-label count is bounded by the symmetric
    degree, and every label a round can produce already exists in the
    initial label frame.  Negative labels (legal for caller-supplied
    seeds) can't ride the packed encoding — route them to the struct-max
    strategy instead."""
    max_deg = (
        sym.groupBy("src").count().agg(F.max("count")).first()[0] or 0
    )
    lo, hi = (
        label_frame.agg(F.min(label_col), F.max(label_col)).first() or (0, 0)
    )
    if lo is not None and lo < 0:
        return {"strategy": "struct"}
    return {"max_score": int(max_deg), "max_tie": int(hi or 0)}


def _neighbor_vote(labels: DataFrame, sym: DataFrame, am_kw: dict) -> DataFrame:
    """(id, new_label): the most frequent label among each vertex's
    neighbors in ``labels``, ties broken (count desc, label asc)."""
    freq = (
        sym.alias("e")
        .join(labels.alias("l").hint("shuffle_hash"), F.col("l.id") == F.col("e.src"))
        .groupBy(F.col("e.dst").alias("id"), F.col("l.label"))
        .agg(F.count("*").alias("cnt"))
    )
    return argmax_long(freq, "id", "cnt", "label", out_tie="new_label", **am_kw)


def label_propagation(
    g: LinkGraph,
    max_iter: int = 20,
    fixed_iters: int | None = None,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
) -> DataFrame:
    """(id: long, label: long).  Errors on empty graph / max_iter == 0,
    matching the reference (label_propagation.rs:44-51)."""
    if fixed_iters is None and max_iter <= 0:
        raise ValueError("max_iter must be positive")
    if g.vertices.isEmpty():
        raise ValueError("label propagation on empty graph")

    sym = partitioned_cache(g.undirected_view().select("src", "dst").repartition("src"))
    # computed inside the first superstep, so a raise there still releases sym
    am_kw = functools.cache(lambda: _argmax_bounds(sym, g.vertices, "id"))

    def step(labels: DataFrame, cache) -> DataFrame:
        best = _neighbor_vote(labels, sym, am_kw())
        return labels.join(best.hint("shuffle_hash"), "id", "left").select(
            "id", F.coalesce("new_label", "label").alias("label")
        )

    return run_supersteps(
        g.vertices.sparkSession, "lpa",
        lambda: g.vertices.select("id", F.col("id").alias("label")),
        step, fixed_iters if fixed_iters is not None else max_iter,
        score=changed_count("label") if fixed_iters is None else None, tol=1,
        checkpoint=checkpoint, resume=resume, release=[sym],
    )


def seeded_label_propagation(
    g: LinkGraph, seeds: DataFrame, fixed_iters: int = 4
) -> DataFrame:
    """(id: long, label: long|null) — semi-supervised label propagation with
    hard-clamped seeds (Zhu & Ghahramani 2002, CMU-CALD-02-107, the
    propagation step without the row-normalized soft scores).

    ``seeds`` is (id, label); seed vertices keep their label forever, every
    other vertex synchronously adopts the most frequent label among its
    *labeled* neighbors — ties broken (count desc, label asc), the same
    deterministic rule as :func:`label_propagation` — and stays NULL until a
    label reaches it.  After k rounds exactly the vertices within k hops of
    a seed are labeled, so the operator doubles as a bounded influence /
    territory-assignment primitive (which crawl frontier belongs to which
    seed list).

    Scale shape: identical to the unseeded kernel — per round one
    labels→edges join (only the labeled subset probes the edge frame, so
    early rounds are *cheaper* than full LPA), one (dst, label) count with
    map-side combine, one per-vertex packed-long hash-agg argmax (the same
    sort-free shape as :func:`label_propagation`); the clamp is a
    shuffled-hash left join against the seed frame, cached once
    partitioned by id, so it moves no seed row.  DuckDB twin:
    oracles.py::seeded_lpa_web_sql (unrolled, AS MATERIALIZED per round).
    """
    if fixed_iters <= 0:
        raise ValueError("fixed_iters must be positive")
    # caching plans the frame, and a bad literal seed label fails its cast
    # there: cache the seeds before sym, so such a raise leaves nothing cached
    seed = partitioned_cache(
        seeds.select("id", F.col("label").cast("long").alias("_seed")).repartition("id")
    )
    sym = partitioned_cache(g.undirected_view().select("src", "dst").repartition("src"))
    am_kw = functools.cache(lambda: _argmax_bounds(
        sym, seed.where(F.col("_seed").isNotNull()), "_seed"
    ))

    def step(labels: DataFrame, cache) -> DataFrame:
        best = _neighbor_vote(
            labels.where(F.col("label").isNotNull()), sym, am_kw()
        )
        return (
            labels.join(seed.hint("shuffle_hash"), "id", "left")
            .join(best.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.coalesce("_seed", "new_label", "label").alias("label"),
            )
        )

    return run_supersteps(
        g.vertices.sparkSession, "seeded_lpa",
        lambda: g.vertices.select("id")
        .join(seed, "id", "left")
        .select("id", F.col("_seed").alias("label")),
        step, fixed_iters, release=[sym, seed],
    )
