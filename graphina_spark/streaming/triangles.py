"""Incremental triangle counting over an append-only edge stream.

Streaming twin of the gated batch kernel (operators/triangles.py): crawl
edges land continuously and per-vertex triangle counts stay current without
re-running the degree-ordered triangle join over the accumulated graph.

Key idea: in an append-only graph, every NEW triangle contains at least one
edge of the arriving micro-batch, so per batch it suffices to

1. canonicalize the batch and anti-join the edge store — ``delta`` is the
   genuinely-new simple edges (replays/duplicates vanish here),
2. for each delta edge (a, b), enumerate w ∈ N(a) ∩ N(b) in the UPDATED
   adjacency (store ∪ delta) — one join per side, fan-out bounded by
   Σ deg(delta endpoints), never corpus-sized,
3. a triangle whose 2 or 3 edges are all new is found once per new edge it
   contains — canonical (x ≤ y ≤ z) sorted-triple dedup collapses the
   multiplicity EXACTLY (no inclusion–exclusion case analysis),
4. explode surviving triples into per-vertex +1s and fold into the counts.

Counts are therefore exactly the batch kernel's at every step — pinned
bit-identical in tests/test_streaming_triangles.py, so the streaming path
inherits triangles_web's DuckDB gate.

Crash consistency: the edge store AND the counts commit as ONE snapshot
frame (tagged rows) through plans/checkpoint.py::CheckpointManager — a
single atomic manifest per batch, so there is no two-family save-order
window at all (contrast streaming/gnnexport.py, which needs the
export-before-edges order); replaying a batch is a no-op because its edges
are already in the store (empty delta ⇒ counts untouched).

Scale shape per batch: one anti-join (delta detection), two adjacency
joins keyed by vertex id whose left side is the batch (the only
corpus-touching work, O(Σ deg(batch endpoints)) rows), one sorted-triple
groupBy bounded by the new-triangle count, one counts outer-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from graphina_spark.plans.checkpoint import CheckpointManager

EDGES_DDL = "src long, dst long"
#: one snapshot frame holds both stores: ('e', src, dst) edge rows and
#: ('t', id, count) per-vertex triangle counts.
STATE_DDL = "kind string, a long, b long"


def _canon(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def state_edges(state: DataFrame) -> DataFrame:
    return state.where(F.col("kind") == "e").select(
        F.col("a"), F.col("b")
    )


def state_counts(state: DataFrame) -> DataFrame:
    return state.where(F.col("kind") == "t").select(
        F.col("a").alias("id"), F.col("b").alias("triangles")
    )


def merge_triangles(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold a micro-batch of edges into the tagged state frame; returns the
    new state.  Pure batch function — callable directly for an incremental
    batch pipeline, or per micro-batch from the streaming sink."""
    store = state_edges(state)
    counts = state_counts(state)
    delta = _canon(batch).join(store, ["a", "b"], "left_anti")
    store2 = store.unionAll(delta)

    # updated symmetric adjacency (id, nbr)
    sym = store2.select(F.col("a").alias("id"), F.col("b").alias("nbr")).unionAll(
        store2.select(F.col("b").alias("id"), F.col("a").alias("nbr"))
    )
    na = sym.select(F.col("id").alias("a"), F.col("nbr").alias("w"))
    nb = sym.select(F.col("id").alias("b"), F.col("nbr").alias("w"))
    tri = (
        delta.join(na, "a")
        .join(nb, ["b", "w"])
        .where((F.col("w") != F.col("a")) & (F.col("w") != F.col("b")))
        .select(F.array_sort(F.array("a", "b", "w")).alias("xyz"))
        .distinct()
    )
    adds = (
        tri.select(F.explode("xyz").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("add"))
    )
    ends = (
        delta.select(F.col("a").alias("id"))
        .unionAll(delta.select(F.col("b").alias("id")))
        .distinct()
        .join(counts, "id", "left_anti")
        .select("id", F.lit(0).cast("long").alias("triangles"))
    )
    counts2 = (
        counts.unionByName(ends)
        .join(adds, "id", "left")
        .select(
            "id",
            (F.col("triangles") + F.coalesce("add", F.lit(0))).alias("triangles"),
        )
    )
    return store2.select(
        F.lit("e").alias("kind"), F.col("a"), F.col("b")
    ).unionAll(
        counts2.select(F.lit("t").alias("kind"), F.col("id"), F.col("triangles"))
    )


def empty_state(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], STATE_DDL)


def run_incremental_triangles(
    edges: DataFrame,
    state_base: str,
    stream_checkpoint: str,
    run_id: str = "inc_tri",
) -> StreamingQuery:
    """Start the incremental-triangles sink over a streaming (src, dst)
    frame; read the current counts back with :func:`latest_triangles`."""
    ckpt = CheckpointManager(
        base=state_base, run_id=run_id, params={"kernel": "incremental_triangles"}
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        found = ckpt.latest(sess)
        if found is None:
            it, state = -1, empty_state(sess)
        else:
            it, state, _ = found
        ckpt.save(
            merge_triangles(state, batch),
            it + 1,
            extra={"batch_id": batch_id},
        )

    return (
        edges.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", stream_checkpoint)
        .start()
    )


def latest_triangles(
    spark: SparkSession, state_base: str, run_id: str = "inc_tri"
) -> DataFrame | None:
    """Current (id, triangles) snapshot, or None before the first batch."""
    ckpt = CheckpointManager(
        base=state_base, run_id=run_id, params={"kernel": "incremental_triangles"}
    )
    found = ckpt.latest(spark)
    return None if found is None else state_counts(found[1])
