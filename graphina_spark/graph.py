"""LinkGraph — the property graph as a pair of DataFrames.

Reference analogue: ``BaseGraph<A, W, Ty>`` (a petgraph StableGraph wrapper,
/root/reference/src/core/types.rs:133-142) with ``Digraph``/``Graph`` aliases
(types.rs:113-119).  Here the graph is:

- ``vertices(id: long, ...attrs)`` — dense, deterministic ids
- ``edges(src: long, dst: long, weight: double)`` — weight defaults to 1.0,
  matching the reference edge-list default (src/core/io.rs:98-112)
- ``directed: bool`` — a runtime flag (the reference makes it a type param)

Undirected graphs store each edge once; algorithms that need both directions
call :meth:`LinkGraph.symmetric_edges`, mirroring how the reference
symmetrizes per-algorithm (pagerank.rs:61-64, label_propagation.rs:62-68).

Multi-edges and self-loops are allowed (petgraph is a multigraph); degree
conventions match the reference: an undirected self-loop counts 2
(src/centrality/degree.rs:44-78), parallel edges each count (degree.rs:183-194).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assign_dense_ids(df: DataFrame, key: str = "url") -> DataFrame:
    """(key) → (id, key): dense 0-based ids equal to the global sort rank of
    the distinct ``key`` values — deterministic and scalable.

    The rank is the exclusive global prefix sum of a column of ones over the
    sorted distinct keys (plans/ordered.py::global_cumsum: one range
    partitioning, pinned by the job that sums its partitions, and a
    per-partition window plus literal offsets; no single-task global
    window), so ids are reproducible across runs and cluster sizes
    (reference analogue: the attribute-keyed node dedupe + stable id map,
    src/core/io.rs:113-118 and pygraphina/src/core/id_map.rs).
    """
    from graphina_spark.plans.ordered import global_cumsum

    return global_cumsum(
        df.select(key).distinct().withColumn("_one", F.lit(1)),
        [key],
        "_one",
        out_col="id",
    ).select("id", key)


@dataclass
class LinkGraph:
    vertices: DataFrame  # (id: long, ...)
    edges: DataFrame  # (src: long, dst: long, weight: double)
    directed: bool = True
    _cache: dict = field(default_factory=dict, repr=False)

    # ------------------------------------------------------------------ build
    @staticmethod
    def from_edges(
        edges: DataFrame,
        directed: bool = True,
        vertices: DataFrame | None = None,
    ) -> "LinkGraph":
        """Build a graph from an edge DataFrame.

        ``edges`` needs ``src``/``dst`` columns; ``weight`` defaults to 1.0.
        If ``vertices`` is None the vertex set is derived as the distinct
        endpoint ids (so isolated vertices must be passed explicitly — same
        contract as the reference's edge-list reader, io.rs:113-119).
        """
        if "weight" not in edges.columns:
            edges = edges.withColumn("weight", F.lit(1.0))
        edges = edges.select(
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
            F.col("weight").cast("double"),
        )
        if vertices is None:
            vertices = (
                edges.select(F.col("src").alias("id"))
                .unionAll(edges.select(F.col("dst").alias("id")))
                .distinct()
            )
        else:
            vertices = vertices.withColumn("id", F.col("id").cast("long"))
        return LinkGraph(vertices=vertices, edges=edges, directed=directed)

    @staticmethod
    def from_pages(pages: DataFrame, directed: bool = True) -> "LinkGraph":
        """pages(url, warc_ts, html, text, lang) → LinkGraph.

        Full ingestion path: vectorized link parsing (functions/extract.py)
        → url→id assignment → vertex/edge tables.  Vertex identity is the
        business key (url), exactly like the reference's attribute-keyed node
        dedupe in read_edge_list (io.rs:113-118); ids are the deterministic
        0-based sort rank of the distinct urls (``assign_dense_ids``) so runs
        are reproducible (no monotonically_increasing_id).
        """
        from graphina_spark.functions.extract import parse_links_udf
        from graphina_spark.plans.materialize import local_materialize as _mat

        # persist parsed links: they feed both id assignment and the edge
        # build, and re-running the html parse is the expensive part.
        # Cache lifecycle: the cached block lives until the session evicts it
        # or the caller unpersists; long-lived sessions building many graphs
        # should call ``graph.edges.sparkSession.catalog.clearCache()``
        # between builds.
        links = pages.select(
            F.col("url").alias("src_url"),
            F.explode(parse_links_udf(F.col("html"), F.col("url"))).alias("dst_url"),
        ).persist()
        # materialize the vertex table once: both the src and dst joins below
        # re-reference it, and the id assignment must not be recomputed
        vertices = (
            assign_dense_ids(
                pages.select("url").unionAll(
                    links.select(F.col("dst_url").alias("url"))
                ),
                key="url",
            )
            .select(F.col("id").cast("long"), "url")
            .transform(_mat)
        )
        edges = (
            links.join(vertices.withColumnRenamed("url", "src_url"), "src_url")
            .withColumnRenamed("id", "src")
            .join(
                vertices.select(
                    F.col("id").alias("dst"), F.col("url").alias("dst_url")
                ),
                "dst_url",
            )
            .select("src", "dst", F.lit(1.0).alias("weight"))
        )
        return LinkGraph(vertices=vertices, edges=edges, directed=directed)

    # ------------------------------------------------------------- structure
    def symmetric_edges(self) -> DataFrame:
        """Edges with both directions present.

        Directed graphs: the edge list as-is (use :meth:`undirected_view` for
        WCC-style both-ways traversal).  Undirected graphs: union of (src,dst)
        and (dst,src) — the reference builds exactly this adjacency per
        algorithm (pagerank.rs:61-64).  Self-loops contribute twice, matching
        the degree-2 self-loop convention (degree.rs:44-78).
        """
        if self.directed:
            return self.edges
        sw = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
        return self.edges.unionAll(sw)

    def undirected_view(self) -> DataFrame:
        """Both directions regardless of directedness (WCC semantics,
        connected_components.rs:83-117)."""
        sw = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
        return self.edges.unionAll(sw)

    def canonical_undirected_edges(self, dedup: bool = True) -> DataFrame:
        """Undirected edge set stored once with src <= dst, self-loops dropped,
        optionally deduplicated — the canonical form used by triangle counting
        and link-prediction operators."""
        e = self.edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        ).where(F.col("src") != F.col("dst"))
        return e.distinct() if dedup else e

    def degrees(self) -> DataFrame:
        """(id, in_deg, out_deg, deg, w_out_deg) — raw counts, not normalized
        (degree.rs:44-114).  Directed: deg = in_deg + out_deg.  Undirected:
        each incident edge counts once toward deg (= symmetrized out-degree,
        so a self-loop counts 2 because symmetric_edges carries it twice),
        and in_deg = out_deg = deg (degree.rs:85-114)."""
        if "degrees" in self._cache:
            return self._cache["degrees"]
        sym = self.symmetric_edges()
        out = sym.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("out_deg"), F.sum("weight").alias("w_out_deg")
        )
        inn = sym.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_deg"))
        o = F.coalesce("out_deg", F.lit(0))
        i = F.coalesce("in_deg", F.lit(0))
        deg = (
            self.vertices.select("id")
            .join(out, "id", "left")
            .join(inn, "id", "left")
            .select(
                "id",
                i.alias("in_deg"),
                o.alias("out_deg"),
                ((i + o) if self.directed else o).alias("deg"),
                F.coalesce("w_out_deg", F.lit(0.0)).alias("w_out_deg"),
            )
        )
        self._cache["degrees"] = deg
        return deg

    def num_vertices(self) -> int:
        return self.vertices.count()

    def num_edges(self) -> int:
        return self.edges.count()
