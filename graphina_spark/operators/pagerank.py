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

- the adjacency is the salted CSR shards of :mod:`graphina_spark.plans.shards`
  (``AdjShards``), one row per (src, salt) with the scatter weights
  ``w(u,v)/w_out(u)``; ``pagerank`` builds them when the caller passes none,
  after its validation actions, and releases what that build cached on every
  exit path.  ``vinfo(id, p)`` is cached hash-partitioned by ``id``;
- the rank state is hash-partitioned by ``id`` (it is the output of the
  ``vinfo`` join, materialized keeping its partitioning), and unsalted shards
  are partitioned by ``src`` into the same partition count, so the
  ``ranks.id = shards.src`` join is co-partitioned: a shuffled-hash join that
  builds the ranks and moves no rank row.  Salted shards (a src above
  ``salt_cap``) first replicate each hub's rank once per salt, which costs
  one more exchange;
- gather = explode the joined CSR rows, then ``groupBy(dst).sum`` — the
  superstep's one exchange, with partial (map-side) aggregation, so hub
  vertices receive pre-combined messages, not one row per in-edge;
- dangling mass rides the SAME message shuffle as the gather: every dangling
  vertex has one shard row with a virtual edge to the sink id ``-1`` with
  weight 1, so ``Σ_{dangling} pr[u]`` pops out as the sink's aggregation
  group.  Vertex id ``-1`` is reserved;
- the gathered frame is cached (by the loop, so it is released on every
  exit path), and the superstep's action collects its 1-row sink group as
  the dangling-mass scalar (a Python float); the new ranks are the cached
  gather joined to ``vinfo`` — co-partitioned by ``id``, no exchange — with
  the scalar folded in as a literal;
- the shared loop (:mod:`graphina_spark.plans.superstep`) runs the
  supersteps with AQE and auto-broadcast off, so no join turns into a
  broadcast whatever the graph's size; ``tol`` is its stop on the L1
  delta (a co-partitioned join of the new and old ranks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph
from graphina_spark.plans.checkpoint import CheckpointManager
from graphina_spark.plans.materialize import partitioned_cache
from graphina_spark.plans.shards import AdjShards, build_adj_shards
from graphina_spark.plans.superstep import run_supersteps


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
    shards: AdjShards | None = None,
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
    ``shards`` are the caller's :func:`build_adj_shards` output, left
    cached for reuse across calls; without them the call builds its own.
    ``shards_min_edges`` is accepted and ignored: every call runs the shard
    gather.
    """
    if not (0.0 < damping < 1.0):
        raise ValueError("damping must be in (0, 1)")  # personalized_pagerank.rs:41-45
    if fixed_iters is None and max_iter <= 0:
        raise ValueError("max_iter must be positive")  # personalized_pagerank.rs:46-50
    spark = g.vertices.sparkSession
    n = g.num_vertices()
    if n == 0:
        return g.vertices.select(F.col("id"), F.lit(0.0).alias("rank"))
    n_iters = fixed_iters if fixed_iters is not None else max_iter

    # teleport vector p: personalization L1-normalized (uniform fallback when
    # Σ<=0, personalized_pagerank.rs:51-63) else uniform 1/n
    pcol = F.lit(1.0 / n)
    if personalization is not None:
        psum = personalization.agg(F.sum("p")).first()[0] or 0.0
        if psum > 0:
            pcol = F.coalesce(F.col("p") / F.lit(psum), F.lit(0.0))
        else:
            personalization = None

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
        gathered = cache(adj.gather(ranks, value="rank"))
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

    # built after every validation action; released on every exit path
    adj = build_adj_shards(g) if shards is None else shards
    try:
        base = g.vertices.select("id")
        if personalization is not None:
            base = base.join(personalization, "id", "left")
        vinfo = partitioned_cache(
            base.select("id", pcol.alias("p")).repartition("id"))
        ranks = run_supersteps(
            spark, "pagerank", init, step, n_iters,
            score=l1_delta if tol is not None and fixed_iters is None else None,
            tol=tol or 0.0,
            checkpoint=checkpoint, resume=resume, stats=stats,
            release=[vinfo],
        )
    finally:
        if shards is None:
            adj.unpersist()
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
