"""Link-prediction operators — common-neighbor join family.

Reference semantics (all over the *simple undirected* neighbor sets):

- Jaccard:    |N∩| / (|N(u)| + |N(v)| - |N∩|), 0 when union empty
  (/root/reference/src/links/similarity.rs:29-55)
- Adamic-Adar: Σ_{w∈N∩, deg(w)>1} 1/ln(deg w)     (similarity.rs:59-89)
- Common neighbors: |N∩|                           (similarity.rs:93-100)
- Resource allocation: Σ_{w∈N∩, deg(w)>0} 1/deg w (allocation.rs:29-55)
- Preferential attachment: deg(u)·deg(v)           (attachment.rs:24-43)
- CN Soundarajan-Hopcroft: |{w∈N∩ : comm(u)=comm(v)=comm(w)}|
  (soundarajan_hopcroft.rs:26-52)
- RA Soundarajan-Hopcroft: Σ over those w of 1/deg(w) (allocation.rs:60-97)
- Within-inter cluster: (within + δ)/(inter + δ)   (cluster.rs:27-56)
- Common neighbor centrality (CCPA): |N∩|^α        (links/centrality.rs:25-46)

Execution shape: one 2-path self-join ``sym(u, w) ⋈ sym(w, v)`` on the
shared endpoint produces every (u, v, w) wedge with u < v, then one
``groupBy(u, v)`` aggregates all measures — a single shuffle for the whole
family.  Degrees come from a broadcast-or-shuffle join against the
neighbor-set-size table.

The reference's default ebunch is ALL unordered vertex pairs
(similarity.rs:13-25) — O(n²) rows, meaningless at 10^12 vertices.  Our
default is the sparse support: pairs with ≥1 common neighbor (every omitted
pair scores 0 for the N∩-based measures).  Pass ``ebunch`` (u, v) to score an
explicit candidate set instead — zero-common-neighbor pairs then appear with
their exact reference score (0, or deg·deg for PA).

Hub skew guard: a middle vertex of degree d emits d² wedge rows, so one
10⁶-degree hub yields 10¹² rows from the 2-path self-join alone.  Middles
with degree > ``max_middle_degree`` (default ``DEFAULT_MAX_MIDDLE_DEGREE``)
are excluded from wedge generation via a broadcast anti-join against the
(tiny) hub list — bounding the join fan-out at d_cap² per middle.
Documented bias: a pair whose ONLY common neighbors are hubs is missed (or
undercounted) — acceptable for link prediction, where hub middles carry
negligible signal anyway (AA weights them 1/ln d, RA 1/d).  Pass ``None``
to disable (exact semantics; only safe when max degree is known bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph

# default middle-degree cap: caps the wedge fan-out of any one middle vertex
# at 10^8 rows; at web scale real hubs (site navs, homepages) are far above
# this and carry no pairwise-similarity signal
DEFAULT_MAX_MIDDLE_DEGREE = 10_000


def _simple_adj(g: LinkGraph) -> DataFrame:
    """Both directions of the deduped, loop-free undirected edge set."""
    c = g.canonical_undirected_edges(dedup=True)
    return c.unionAll(c.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _neighbor_set_sizes(adj: DataFrame) -> DataFrame:
    return adj.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("nsz"))


def _wedges(
    adj: DataFrame,
    nsz: DataFrame | None = None,
    max_middle_degree: int | None = None,
) -> DataFrame:
    """(u, v, w): w adjacent to both u and v, u < v.  When a degree cap is
    given, hub middles are removed BEFORE the self-join (that is where the d²
    blowup happens), via a broadcast anti-join on the small hub list."""
    if max_middle_degree is not None and nsz is not None:
        hubs = nsz.where(F.col("nsz") > max_middle_degree).select(
            F.col("id").alias("src")
        )
        adj = adj.join(F.broadcast(hubs), "src", "left_anti")
    a = adj.select(F.col("dst").alias("u"), F.col("src").alias("w"))
    b = adj.select(F.col("src").alias("w2"), F.col("dst").alias("v"))
    return (
        a.join(b, F.col("w") == F.col("w2"))
        .where(F.col("u") < F.col("v"))
        .select("u", "v", "w")
    )


def _pair_stats(
    g: LinkGraph,
    communities: DataFrame | None = None,
    max_middle_degree: int | None = DEFAULT_MAX_MIDDLE_DEGREE,
) -> DataFrame:
    """(u, v, cn, aa, ra[, cn_sh, ra_sh]) for every pair with ≥1 common
    neighbor — the shared kernel of the whole family."""
    adj = _simple_adj(g)
    nsz = _neighbor_set_sizes(adj)
    wedges = _wedges(adj, nsz, max_middle_degree).join(
        nsz.select(F.col("id").alias("w"), F.col("nsz").alias("wdeg")), "w"
    )
    aggs = [
        F.count("*").alias("cn"),
        F.sum(F.when(F.col("wdeg") > 1, 1.0 / F.log(F.col("wdeg")))).alias("aa"),
        F.sum(F.when(F.col("wdeg") > 0, 1.0 / F.col("wdeg"))).alias("ra"),
    ]
    if communities is not None:
        com = communities.select("id", "community")
        wedges = (
            wedges.join(com.select(F.col("id").alias("u"), F.col("community").alias("cu")), "u")
            .join(com.select(F.col("id").alias("v"), F.col("community").alias("cv")), "v")
            .join(com.select(F.col("id").alias("w"), F.col("community").alias("cw")), "w")
        )
        same = (F.col("cu") == F.col("cw")) & (F.col("cv") == F.col("cw"))
        aggs += [
            F.sum(F.when(same, 1).otherwise(0)).alias("cn_sh"),
            F.sum(F.when(same & (F.col("wdeg") > 0), 1.0 / F.col("wdeg")).otherwise(0.0)).alias(
                "ra_sh"
            ),
        ]
    stats = wedges.groupBy("u", "v").agg(*aggs)
    return stats.select(
        "u",
        "v",
        "cn",
        F.coalesce("aa", F.lit(0.0)).alias("aa"),
        F.coalesce("ra", F.lit(0.0)).alias("ra"),
        *(["cn_sh", "ra_sh"] if communities is not None else []),
    )


def _with_ebunch(g: LinkGraph, stats: DataFrame, ebunch: DataFrame | None) -> DataFrame:
    if ebunch is None:
        return stats
    eb = ebunch.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    )
    joined = eb.join(stats, ["u", "v"], "left")
    fill = {c: 0 for c in stats.columns if c not in ("u", "v")}
    return joined.fillna(fill)


def common_neighbors(
    g: LinkGraph,
    ebunch: DataFrame | None = None,
    max_middle_degree: int | None = DEFAULT_MAX_MIDDLE_DEGREE,
) -> DataFrame:
    """(u, v, cn) — |N(u) ∩ N(v)| (similarity.rs:93-100)."""
    return _with_ebunch(
        g, _pair_stats(g, max_middle_degree=max_middle_degree), ebunch
    ).select("u", "v", "cn")


def jaccard_coefficient(g: LinkGraph, ebunch: DataFrame | None = None) -> DataFrame:
    """(u, v, jaccard) (similarity.rs:29-55)."""
    nsz = _neighbor_set_sizes(_simple_adj(g))
    stats = _with_ebunch(g, _pair_stats(g), ebunch)
    return (
        stats.join(nsz.select(F.col("id").alias("u"), F.col("nsz").alias("du")), "u", "left")
        .join(nsz.select(F.col("id").alias("v"), F.col("nsz").alias("dv")), "v", "left")
        .select(
            "u",
            "v",
            F.when(
                F.coalesce("du", F.lit(0)) + F.coalesce("dv", F.lit(0)) - F.col("cn") > 0,
                F.col("cn")
                / (F.coalesce("du", F.lit(0)) + F.coalesce("dv", F.lit(0)) - F.col("cn")),
            )
            .otherwise(0.0)
            .alias("jaccard"),
        )
    )


def adamic_adar_index(g: LinkGraph, ebunch: DataFrame | None = None) -> DataFrame:
    """(u, v, aa) (similarity.rs:59-89)."""
    return _with_ebunch(g, _pair_stats(g), ebunch).select("u", "v", "aa")


def resource_allocation_index(g: LinkGraph, ebunch: DataFrame | None = None) -> DataFrame:
    """(u, v, ra) (allocation.rs:29-55)."""
    return _with_ebunch(g, _pair_stats(g), ebunch).select("u", "v", "ra")


def preferential_attachment(g: LinkGraph, ebunch: DataFrame | None = None) -> DataFrame:
    """(u, v, pa) = deg(u)·deg(v) (attachment.rs:24-43).  With the default
    sparse ebunch this scores pairs having ≥1 common neighbor; pass an
    explicit ebunch for arbitrary pairs."""
    nsz = _neighbor_set_sizes(_simple_adj(g))
    if ebunch is None:
        pairs = _pair_stats(g).select("u", "v")
    else:
        pairs = ebunch.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
    return (
        pairs.join(nsz.select(F.col("id").alias("u"), F.col("nsz").alias("du")), "u", "left")
        .join(nsz.select(F.col("id").alias("v"), F.col("nsz").alias("dv")), "v", "left")
        .select(
            "u",
            "v",
            (F.coalesce("du", F.lit(0)).cast("double") * F.coalesce("dv", F.lit(0))).alias("pa"),
        )
    )


def cn_soundarajan_hopcroft(
    g: LinkGraph, communities: DataFrame, ebunch: DataFrame | None = None
) -> DataFrame:
    """(u, v, cn_sh): common neighbors w with comm(u)=comm(v)=comm(w)
    (soundarajan_hopcroft.rs:26-52).  ``communities`` is (id, community)."""
    return _with_ebunch(g, _pair_stats(g, communities), ebunch).select(
        "u", "v", F.col("cn_sh").cast("double").alias("cn_sh")
    )


def ra_index_soundarajan_hopcroft(
    g: LinkGraph, communities: DataFrame, ebunch: DataFrame | None = None
) -> DataFrame:
    """(u, v, ra_sh) (allocation.rs:60-97)."""
    return _with_ebunch(g, _pair_stats(g, communities), ebunch).select("u", "v", "ra_sh")


def within_inter_cluster(
    g: LinkGraph,
    communities: DataFrame,
    ebunch: DataFrame | None = None,
    delta: float = 0.001,
) -> DataFrame:
    """(u, v, wic) = (within + δ)/(inter + δ) (cluster.rs:27-56)."""
    if delta <= 0:
        raise ValueError("delta must be positive")
    stats = _with_ebunch(g, _pair_stats(g, communities), ebunch)
    return stats.select(
        "u",
        "v",
        (
            (F.col("cn_sh") + F.lit(delta))
            / (F.col("cn") - F.col("cn_sh") + F.lit(delta))
        ).alias("wic"),
    )


def common_neighbor_centrality(
    g: LinkGraph, ebunch: DataFrame | None = None, alpha: float = 0.8
) -> DataFrame:
    """(u, v, ccpa) = |N∩|^α (links/centrality.rs:25-46)."""
    return _with_ebunch(g, _pair_stats(g), ebunch).select(
        "u", "v", F.pow(F.col("cn").cast("double"), F.lit(alpha)).alias("ccpa")
    )


def negative_edges(
    g: LinkGraph, per_node: int = 3, oversample: int = 4, salt: str = "negsample"
) -> DataFrame:
    """(src, dst) — up to ``per_node`` deterministic NON-edges per source
    vertex: the negative-sampling half of every link-prediction training
    set (the links family above scores candidate pairs; a trainable model
    additionally needs verified negatives at ~uniform rate).

    Candidates are md5-derived, not random (the repo's sampling
    convention): candidate j for source s hashes ``salt:s:j`` into the
    vertex-id space via the first 8 hex chars mod n; invalid ids are
    dropped by a vertex semi-join, real edges and self-loops by an
    anti-join against the edge frame; the first ``per_node`` surviving
    candidates (ordered by j) are kept.  Reproducible across runs, engines
    and partitionings; rotate ``salt`` for a fresh draw.

    Scale shape: one in-row candidate expansion (``per_node × oversample``
    rows per vertex), one semi-join on the candidate id, one anti-join on
    (src, dst) — both keyed, no pair enumeration — and a bounded per-src
    window (≤ oversample·per_node rows per group).  DuckDB twin:
    oracles.py::neg_edges_web_sql.
    """
    m = per_node * oversample
    spark = g.vertices.sparkSession
    n = g.vertices.count()
    cand = (
        g.vertices.select("id")
        .select(
            F.col("id").alias("src"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.lit(m)),
                    lambda j: F.struct(
                        j.alias("j"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            ":",
                                            F.lit(salt),
                                            F.col("id").cast("string"),
                                            j.cast("string"),
                                        )
                                    ),
                                    1,
                                    8,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % F.lit(n)
                        ).alias("dst"),
                    ),
                )
            ).alias("c"),
        )
        .select("src", F.col("c.j").alias("j"), F.col("c.dst").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    valid = cand.join(
        g.vertices.select(F.col("id").alias("dst")), "dst", "left_semi"
    )
    nonedges = valid.join(
        g.edges.select("src", "dst").distinct(), ["src", "dst"], "left_anti"
    )
    w = Window.partitionBy("src").orderBy("j")
    return (
        nonedges.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= per_node)
        .select("src", "dst")
    )


def link_prediction_auc(
    g: LinkGraph,
    per_node: int = 3,
    oversample: int = 4,
    salt: str = "negsample",
    score: str = "cn",
) -> DataFrame:
    """One row ``(auc double, npos long, nneg long)``: tie-aware
    Mann-Whitney AUC of a common-neighbor-family scorer at separating the
    graph's real (canonical undirected) edges from :func:`negative_edges`
    samples — the standard retrieval-quality readout for the links family
    (the reference scores pairs, similarity.rs; ranking quality is how a
    pipeline decides WHICH measure to ship).

        AUC = (R⁺ − P(P+1)/2) / (P·N),  R⁺ = Σ average ranks of positives
              (ascending score, ties get the group mean rank)

    ``score``: any :func:`_pair_stats` column — ``cn`` (default; integer, so
    tie groups are exact across engines), ``aa`` or ``ra`` (rounded to 6 dp
    before grouping so cross-engine float ulps cannot reshuffle tie groups).
    Pairs outside the wedge support score 0 (the exact reference value).

    Scale shape: the wedge kernel (one self-join + one groupBy, hub-capped),
    one groupBy(score) whose size is bounded by #distinct scores, and a
    global prefix sum (plans/ordered.py::rank_auc over global_cumsum) for
    the rank cumsum — NO single-task global window.  DuckDB twin:
    oracles.py::linkpred_auc_web_sql.
    """
    pos = _canon_pairs(g)
    neg = (
        negative_edges(g, per_node=per_node, oversample=oversample, salt=salt)
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        # directed non-edges can canonicalize onto a real reverse edge
        .join(pos, ["u", "v"], "left_anti")
    )
    return _pairwise_auc(g, pos, neg, score)


def _pairwise_auc(
    g: LinkGraph, pos: DataFrame, neg: DataFrame, score: str
) -> DataFrame:
    """Shared AUC tail: label the canonical (u, v) candidate frames, score
    with the wedge kernel of ``g``, rank via plans/ordered.py::rank_auc."""
    from graphina_spark.plans.ordered import rank_auc

    pairs = pos.withColumn("label", F.lit(1)).unionAll(
        neg.withColumn("label", F.lit(0))
    )
    sc = F.coalesce(F.col(score), F.lit(0))
    if score in ("aa", "ra"):
        sc = F.round(sc, 6)
    return rank_auc(
        pairs.join(_pair_stats(g).select("u", "v", score), ["u", "v"], "left")
        .select("label", sc.alias("score"))
    )


def _canon_pairs(g: LinkGraph) -> DataFrame:
    return (
        g.edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )


def future_link_auc(
    g_old: LinkGraph,
    g_new: LinkGraph,
    per_node: int = 3,
    oversample: int = 4,
    salt: str = "negsample",
    score: str = "cn",
) -> DataFrame:
    """One row ``(auc double, npos long, nneg long)``: TEMPORAL
    link-prediction AUC — scores computed on the OLD snapshot's structure
    only, evaluated on the edges that genuinely appear in the NEW snapshot
    (canonical pairs of ``g_new`` absent from ``g_old``) against sampled
    non-edges of both snapshots.  The forward-prediction eval a crawl
    pipeline runs between recrawls: "would this scorer have predicted the
    links we actually discovered?" — unlike :func:`link_prediction_auc`,
    the positives here are disjoint from the training structure, so the
    score is an honest generalization readout.

    Same scale shape as link_prediction_auc (one wedge kernel on the old
    graph, keyed anti-joins, grouped prefix rank sum).  DuckDB twin:
    oracles.py::future_auc_web_sql."""
    canon_old = _canon_pairs(g_old)
    pos = _canon_pairs(g_new).join(canon_old, ["u", "v"], "left_anti")
    neg = (
        negative_edges(g_old, per_node=per_node, oversample=oversample, salt=salt)
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .join(canon_old, ["u", "v"], "left_anti")
        .join(_canon_pairs(g_new), ["u", "v"], "left_anti")
    )
    return _pairwise_auc(g_old, pos, neg, score)
