"""Salted, src-bucketed CSR-style adjacency shards — the scale layout.

North-star storage: ``adj(bucket, salt, src, dst_list: array<int|long>,
w_list: array<double>, degree: long)``.  The reference's analogue is the
position-space CSR snapshot it builds before every hot loop
(/root/reference/src/core/paths.rs:767-801, sprs CsMat round-trip at
types.rs:570-606); ours is a distributed DataFrame with two extra design
points the in-memory version doesn't need:

1. **Row capping** — ``collect_list`` over a 10^6-out-degree hub would
   concentrate one group's entire adjacency in a single aggregation buffer
   and a single join row.  Every (src, salt) row holds at most ``salt_cap``
   neighbors — an exact bound: ``salt = (row_number over src, ordered by
   (dst, weight)) / salt_cap``, so a hub with out-degree D is split across
   exactly ``ceil(D / salt_cap)`` salt rows.  The build-time window sort is a
   one-off cost; the deterministic order also makes shard contents
   reproducible across runs/cluster sizes.

2. **Skew-proof gather** — whether any source is salted (out-degree >
   ``salt_cap``) is decided once, at build time, on the driver
   (``AdjShards.salted``):

   - **unsalted** (the common case, and both benchmark graphs): the shards
     are hash-partitioned by ``src`` into ``spark.sql.shuffle.partitions``
     partitions — the partitioner of the id-partitioned rank frame — so
     the per-superstep ``ranks.id = shards.src`` join is co-partitioned and
     moves no rank row.  The superstep's only exchange is the message
     aggregation;
   - **salted**: the join replicates each hub's rank row once per salt
     (broadcast hub-salt map + ``explode(sequence(...))``), then joins on
     (src, salt) against shards partitioned by (src, salt), so a hub's
     scatter work spreads across as many tasks as it has salt rows; the
     replicated rank frame is re-shuffled to meet them.

   Message aggregation (``groupBy(dst).sum``) gets map-side partial
   aggregation from Spark, which defuses *in*-degree hubs symmetrically.

Every PageRank superstep gathers over these shards (``pagerank`` builds
them when the caller passes none): the rank⋈adjacency join moves one row
per (src, salt) — ~|V| rows — not one per edge (~|E| = 10–100×|V|), and
the edge fan-out happens *after* the join via ``explode`` inside the same
stage (whole-stage codegen, JVM-side, no Python).  Dangling vertices carry
one virtual edge to the reserved sink id ``-1`` with weight 1, so the
dangling mass rides the gather's shuffle as the sink's aggregation group.

Spark matches cache entries by plan, so two builds over the same graph
share them; a build releases only the frames it cached itself
(``AdjShards.owned``), never an entry an earlier build made.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph
from graphina_spark.plans.materialize import partitioned_cache

DEFAULT_SALT_CAP = 100_000


@dataclass
class AdjShards:
    """Materialized adjacency shards + the hub-salt replication map."""

    shards: DataFrame  # (bucket, salt, src, dst_list, w_list, degree)
    salt_map: DataFrame  # (src, n_salt) — hubs only (n_salt > 1); broadcast side
    salted: bool  # some src has n_salt > 1; False: shards are partitioned
    # by src alone and the gather joins the ranks without salt_map
    wout: DataFrame  # (src, w_out, degree, _wlo, _whi, _dlo, _dhi) —
    # scatter-active vertices; the per-src weight and dst extrema behind the
    # uniform auto-detect and the dst_list width
    uniform: bool  # True: w_list is NOT stored — every edge of a src
    # carries w_norm = 1/degree (auto-detected constant edge weight).
    # Cuts per-superstep adjacency scan traffic to 4 B/edge with int dsts
    # (vs 12 weighted) — the memory-bus term that caps single-box scaling;
    # Common-Crawl link graphs are exactly this shape.
    owned: list[DataFrame]  # the frames this build cached; the rest were
    # already cached by an earlier build over the same graph, whose entries
    # unpersist leaves in place

    def unpersist(self) -> None:
        for df in self.owned:
            df.unpersist()

    def gather(self, ranks: DataFrame, value: str = "rank") -> DataFrame:
        """One superstep's message wave: Σ_{u→v} value[u]·w_norm(u,v) → (id,
        gather).  ``ranks`` is (id, <value>)."""
        if self.salted:
            src = ranks.join(
                F.broadcast(self.salt_map), ranks["id"] == self.salt_map["src"], "left"
            ).select(
                ranks["id"].alias("src"),
                F.col(value).alias("_v"),
                F.explode(
                    F.sequence(F.lit(0), F.coalesce(F.col("n_salt"), F.lit(1)) - 1)
                ).alias("salt"),
            )
            joined = self.shards.join(src.hint("shuffle_hash"), ["src", "salt"])
        else:
            src = ranks.select(F.col("id").alias("src"), F.col(value).alias("_v"))
            joined = self.shards.join(src.hint("shuffle_hash"), "src")
        if self.uniform:
            # w_norm = 1/degree computed, never scanned; dangling-sink rows
            # (degree 0, virtual w 1.0) pass the rank through unscaled
            return (
                joined.select(
                    F.explode("dst_list").alias("_dst"),
                    F.col("_v"),
                    F.col("degree"),
                )
                .select(
                    F.col("_dst").cast("bigint").alias("id"),
                    F.when(
                        F.col("degree") > 0, F.col("_v") / F.col("degree")
                    ).otherwise(F.col("_v")).alias("_c"),
                )
                .groupBy("id")
                .agg(F.sum("_c").alias("gather"))
            )
        return (
            joined.select(
                F.explode(F.arrays_zip("dst_list", "w_list")).alias("z"),
                F.col("_v"),
            )
            .select(
                # dsts are int or bigint (the build's choice); the message id
                # is bigint either way, so downstream plans are identical
                F.col("z.dst_list").cast("bigint").alias("id"),
                (F.col("_v") * F.col("z.w_list")).alias("_c"),
            )
            .groupBy("id")
            .agg(F.sum("_c").alias("gather"))
        )


def build_adj_shards(
    g: LinkGraph,
    salt_cap: int = DEFAULT_SALT_CAP,
    dangling_sink: bool = True,
) -> AdjShards:
    """Group the (symmetrized) edge set into capped, salted CSR rows whose
    w_list holds the PageRank scatter weights w(u,v)/w_out(u), plus one
    sink row per dangling vertex (no out-edges): ``(src=u, salt=0,
    dst_list=[-1], w_list=[1.0])``.  ``wout`` is NOT given sink rows.

    Constant edge weights are auto-detected from per-src weight extrema
    folded into the wout aggregation (no extra edge scan; one tiny reduce
    over the per-src frame): the shards then store no w_list and the gather
    computes w_norm = 1/degree (``AdjShards.uniform``).  The same reduce
    reads the maximum degree, which decides ``AdjShards.salted``.

    The shards are partitioned into ``spark.sql.shuffle.partitions``
    partitions — the rank frame's — by ``src`` (by ``(src, salt)`` when
    salted); ``bucket`` is the src hash bucket over that count.

    ``dst_list`` is array<int> when every dst id lies in [0, 2³¹), else
    array<bigint>; the dst extrema ride the same wout aggregation and
    reduce, so the choice costs no job.  ``w_list`` is array<double>.  The
    int layout is 12 bytes/edge of superstep scan traffic instead of 16 (4
    instead of 8 uniform) at identical row counts: every superstep re-reads
    the whole cached adjacency, so this is the memory-bus term that caps
    single-box scaling at high core counts (on a real cluster, the
    network/cache term).

    A build that raises releases what it cached.
    """
    if not dangling_sink:  # the keyword stays accepted for older callers
        raise ValueError("dangling_sink=False is not supported: the shards "
                         "always carry the sink rows")
    owned: list[DataFrame] = []
    try:
        return _build(g, salt_cap, owned)
    except BaseException:
        for df in owned:
            df.unpersist()
        raise


def _cache_new(
    df: DataFrame, owned: list[DataFrame], partitioned: bool = False
) -> DataFrame:
    """``df`` cached (by ``partitioned_cache`` when ``partitioned``) and
    recorded in ``owned``, unless the cache manager already holds an entry
    for ``df``'s plan: ``df`` then reads that entry, which stays its maker's
    to release."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    owned.append(partitioned_cache(df) if partitioned else df.cache())
    return owned[-1]


def _build(g: LinkGraph, salt_cap: int, owned: list[DataFrame]) -> AdjShards:
    spark = g.edges.sparkSession
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = g.symmetric_edges()
    # per-src weight and dst extrema piggyback on the wout aggregation, so
    # the constant-weight auto-detect and the dst width fold into the edge
    # pass that materializes the wout cache anyway — no extra scan of sym
    wout = _cache_new(sym.groupBy("src").agg(
        F.sum("weight").alias("w_out"),
        F.count("*").alias("degree"),
        F.min("weight").alias("_wlo"),
        F.max("weight").alias("_whi"),
        F.min("dst").alias("_dlo"),
        F.max("dst").alias("_dhi"),
    ), owned)
    # constant edge weight => w_norm is exactly 1/degree, so w_list need
    # not be stored or scanned; no src above salt_cap => no salt rows;
    # every dst in [0, 2^31) => int dsts (no edges: only the [-1] sinks)
    mm = wout.agg(
        F.min("_wlo").alias("lo"), F.max("_whi").alias("hi"),
        F.max("degree").alias("dmax"),
        F.min("_dlo").alias("dlo"), F.max("_dhi").alias("dhi"),
    ).first()
    uniform = mm["lo"] is not None and mm["lo"] == mm["hi"]
    salted = mm["dmax"] is not None and mm["dmax"] > salt_cap
    dst_t = "int" if mm["dlo"] is None or (
        mm["dlo"] >= 0 and mm["dhi"] < 2**31) else "bigint"

    rn = F.row_number().over(Window.partitionBy("src").orderBy("dst", "weight"))
    e = (
        sym.join(wout, "src")
        .select(
            "src",
            "dst",
            "weight",
            (F.col("weight") / F.col("w_out")).alias("w_norm"),
            "degree",
        )
        .withColumn("salt", ((rn - 1) / F.lit(salt_cap)).cast("int"))
        .drop("weight")
    )
    aggs = [
        F.collect_list(F.col("dst").cast(dst_t)).alias("dst_list"),
        F.first("degree").alias("degree"),
    ]
    sink_cols = [
        F.col("src"),
        F.lit(0).cast("int").alias("salt"),
        F.array(F.lit(-1).cast(dst_t)).alias("dst_list"),
        F.lit(0).cast("long").alias("degree"),
    ]
    if not uniform:
        aggs.insert(1, F.collect_list("w_norm").alias("w_list"))
        sink_cols.insert(3, F.array(F.lit(1.0)).alias("w_list"))
    sink_rows = (
        g.vertices.select(F.col("id").alias("src"))
        .join(wout.select("src"), "src", "left_anti")
        .select(*sink_cols)
    )
    grouped = e.groupBy("src", "salt").agg(*aggs).unionByName(sink_rows)
    keys = ["src", "salt"] if salted else ["src"]
    shards = _cache_new(
        grouped.withColumn("bucket", F.pmod(F.hash("src"), F.lit(n_buckets)))
        .repartition(n_buckets, *keys),
        owned, partitioned=True,
    )
    salt_map = _cache_new(
        wout.where(F.col("degree") > salt_cap)
        .select("src", F.ceil(F.col("degree") / F.lit(salt_cap)).cast("int").alias("n_salt")),
        owned,
    )
    return AdjShards(
        shards=shards,
        salt_map=salt_map,
        salted=salted,
        wout=wout,
        uniform=uniform,
        owned=owned,
    )
