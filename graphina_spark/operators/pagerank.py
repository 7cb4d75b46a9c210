"""PageRank — weighted power iteration, reference-exact semantics.

Reference: ``graphina::centrality::pagerank::pagerank``
(/root/reference/src/centrality/pagerank.rs:26-136) and the personalized
variant (personalized_pagerank.rs:24-120).  Pinned conventions:

- out-weight ``w_out[u] = Σ w(u,·)`` over the (symmetrized, if undirected)
  edge set (pagerank.rs:50-65; undirected contributes both directions :61-64)
- init uniform ``1/n``, or ``nstart`` L1-normalized (error if Σ=0, :76-80)
- per iteration: dangling mass ``d·Σ_{w_out=0} pr[u]`` redistributed by the
  teleport vector (uniform ``1/n``, or the personalization vector,
  personalized_pagerank.rs:98-107); teleport ``(1-d)·p_i``; neighbor term
  ``d·Σ_{u→v} pr[u]·w(u,v)/w_out[u]`` (:102-115)
- convergence: **L1** ``Σ|pr_new - pr| < tol`` (:117-127); result sums to 1

Spark execution model — one superstep shape, one exchange:

- ``edges_norm(src, dst, w_norm)`` is precomputed once, hash-partitioned by
  ``src`` into the shuffle-partition count and cached with that
  partitioning; ``vinfo(id, p)`` likewise by ``id``;
- the rank state is hash-partitioned by ``id`` (it is the output of the
  ``vinfo`` join, materialized keeping its partitioning), so the
  ``ranks.id = edges.src`` join is co-partitioned: a shuffled-hash join
  that builds the ranks and moves no rank row;
- gather = ``groupBy(dst).sum`` is the superstep's one exchange, with
  partial (map-side) aggregation, so hub vertices receive pre-combined
  messages, not one row per in-edge;
- dangling mass rides the SAME message shuffle as the gather: every dangling
  vertex gets one virtual edge to the sink id ``-1`` with weight 1, so
  ``Σ_{dangling} pr[u]`` pops out as the sink's aggregation group.  Vertex
  id ``-1`` is reserved;
- the gathered frame is cached (by the loop, so it is released on every
  exit path), and the superstep's action collects its 1-row sink group as
  the dangling-mass scalar (a Python float); the new ranks are the cached
  gather joined to ``vinfo`` — co-partitioned by ``id``, no exchange — with
  the scalar folded in as a literal;
- the shared loop (:mod:`graphina_spark.plans.superstep`) runs the
  supersteps with AQE and auto-broadcast off, so no join turns into a
  broadcast whatever the graph's size; ``tol`` is its stop on the L1
  delta (a co-partitioned join of the new and old ranks).

At 100 TB scale the plain join is replaced by the salted CSR adjacency-shard
gather in :mod:`graphina_spark.plans.shards` (same semantics, skew-proof;
the shards must carry the sink rows, ``dangling_sink=True``); this module is
the semantic reference implementation and the small/medium path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph
from graphina_spark.plans.checkpoint import CheckpointManager
from graphina_spark.plans.materialize import partitioned_cache
from graphina_spark.plans.superstep import run_supersteps

# Symmetrized-edge count below which pagerank(shards=...) falls back to the
# plain per-edge join (measured crossover region: shards lose at 57k edges,
# win at 64.7M — see BENCH/BASELINE.md; 1M sits safely between).
SHARDS_MIN_EDGES = 1_000_000


def pagerank(
    g: LinkGraph,
    damping: float = 0.85,
    max_iter: int = 100,
    tol: float | None = 1e-6,
    nstart: DataFrame | None = None,
    personalization: DataFrame | None = None,
    fixed_iters: int | None = None,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
    shards: "AdjShards | None" = None,
    shards_min_edges: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Return ``(id: long, rank: double)``, Σ rank = 1.

    ``fixed_iters`` runs exactly that many supersteps with no early exit
    (used by the oracle-parity queries, where the DuckDB side is an unrolled
    fixed-iteration SQL).  ``nstart``/``personalization`` are DataFrames
    ``(id, value)`` / ``(id, p)``.  Pass a dict as ``stats`` to receive
    ``{"iterations": k, "delta": last L1 delta}`` — the observability hook
    behind warm-start (incremental recrawl) convergence accounting.
    ``shards`` must be built with ``dangling_sink=True`` (ValueError
    otherwise).
    """
    if not (0.0 < damping < 1.0):
        raise ValueError("damping must be in (0, 1)")  # personalized_pagerank.rs:41-45
    if fixed_iters is None and max_iter <= 0:
        raise ValueError("max_iter must be positive")  # personalized_pagerank.rs:46-50
    if shards is not None and not shards.dangling_sink:
        raise ValueError(
            "pagerank needs shards built with dangling_sink=True: the "
            "dangling mass is read from the sink group of the gather"
        )

    spark = g.vertices.sparkSession
    n = g.num_vertices()
    if n == 0:
        return g.vertices.select(F.col("id"), F.lit(0.0).alias("rank"))
    n_iters = fixed_iters if fixed_iters is not None else max_iter

    if shards is not None:
        # Auto-select the superstep kernel by edge count: below the
        # crossover the salted-CSR gather's fixed overhead (hub-salt
        # replication join + explode) dominates and the plain per-edge join
        # is faster (sf0.1 bench: 7.2 s sharded vs 4.3 s plain at 57k
        # edges); above it the shard join moves ~|V| rows instead of ~|E|
        # and wins (64.7M-edge scaling harness).  Values are identical
        # either way (both paths are oracle-gated).  Pass
        # ``shards_min_edges=0`` to force the shard kernel (tests,
        # scaling harness at known scale).
        threshold = (
            SHARDS_MIN_EDGES if shards_min_edges is None else shards_min_edges
        )
        if threshold > 0:
            n_edges = shards.wout.agg(F.sum("degree")).first()[0] or 0
            if n_edges < threshold:
                shards = None

    # teleport vector p: personalization L1-normalized (uniform fallback when
    # Σ<=0, personalized_pagerank.rs:51-63) else uniform 1/n
    pcol = F.lit(1.0 / n)
    if personalization is not None:
        psum = personalization.agg(F.sum("p")).first()[0] or 0.0
        if psum > 0:
            pcol = F.coalesce(F.col("p") / F.lit(psum), F.lit(0.0))
        else:
            personalization = None

    # no Spark action between the caches below and run_supersteps, whose
    # finally releases them
    base = g.vertices.select("id")
    if personalization is not None:
        base = base.join(personalization, "id", "left")
    vinfo = partitioned_cache(base.select("id", pcol.alias("p")).repartition("id"))
    release = [vinfo]
    if shards is None:
        sym = g.symmetric_edges()
        wout = sym.groupBy("src").agg(F.sum("weight").alias("w_out"))
        # virtual sink edges: one (u, -1, 1.0) row per dangling vertex, so the
        # dangling mass is just one more aggregation group in the gather
        sink_edges = (
            g.vertices.select(F.col("id").alias("src"))
            .join(wout.select("src"), "src", "left_anti")
            .select(
                "src",
                F.lit(-1).cast("long").alias("dst"),
                F.lit(1.0).alias("w_norm"),
            )
        )
        edges_norm = partitioned_cache(
            sym.join(wout, "src")
            .select("src", "dst", (F.col("weight") / F.col("w_out")).alias("w_norm"))
            .unionByName(sink_edges)
            .repartition("src")
        )
        release.append(edges_norm)

    def init() -> DataFrame:
        if nstart is None:
            return g.vertices.select("id", F.lit(1.0 / n).alias("rank"))
        ssum = nstart.agg(F.sum("value")).first()[0] or 0.0
        if ssum == 0:
            raise ValueError("nstart sums to zero")  # pagerank.rs:76-80
        return g.vertices.select("id").join(nstart, "id", "left").select(
            "id", (F.coalesce("value", F.lit(0.0)) / F.lit(ssum)).alias("rank")
        )

    def step(ranks: DataFrame, cache) -> DataFrame:
        if shards is not None:
            gathered = shards.gather(ranks, value="rank")
        else:
            gathered = (
                edges_norm.alias("e")
                .join(ranks.alias("r").hint("shuffle_hash"), F.col("r.id") == F.col("e.src"))
                .select(
                    F.col("e.dst").alias("id"),
                    (F.col("r.rank") * F.col("e.w_norm")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("gather"))
            )
        gathered = cache(gathered)
        # THE superstep action: runs the gather (and the ranks' deferred
        # materialization, unless a score or save ran it), fills the cache,
        # and returns the sink group — the dangling mass — as a float
        sink = gathered.where(F.col("id") == -1).select("gather").collect()
        dang = sink[0][0] if sink else 0.0
        # the -1 sink row drops out of the left join (vinfo has no -1)
        return vinfo.join(gathered.hint("shuffle_hash"), "id", "left").select(
            "id",
            (
                (1.0 - damping) * F.col("p")
                + F.lit(damping * dang) * F.col("p")
                + F.lit(damping) * F.coalesce("gather", F.lit(0.0))
            ).alias("rank"),
        )

    def l1_delta(new: DataFrame, old: DataFrame) -> float:
        return (
            new.alias("a")
            .join(old.alias("b").hint("shuffle_hash"), "id")
            .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))))
            .first()[0]
        )

    ranks = run_supersteps(
        spark, "pagerank", init, step, n_iters,
        score=l1_delta if tol is not None and fixed_iters is None else None,
        tol=tol or 0.0,
        checkpoint=checkpoint, resume=resume, stats=stats,
        release=release,
    )
    return ranks.select("id", "rank")


def personalized_pagerank(
    g: LinkGraph,
    personalization: DataFrame | None = None,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iter: int = 100,
    **kw,
) -> DataFrame:
    """Facade matching the reference's argument order
    (src/centrality/personalized.rs:15-37)."""
    return pagerank(
        g,
        damping=damping,
        max_iter=max_iter,
        tol=tol,
        personalization=personalization,
        **kw,
    )
