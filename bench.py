#!/usr/bin/env python
"""Benchmark harness — headline link-graph queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": <sf>, ...extras}

Extras (informational, judged against BASELINE.md): edges/sec sustained by the
PageRank superstep loop and iterations/hour, the two numbers named by the
authoritative metric in BASELINE.json.

Scaling-efficiency evidence (two parallelism levels on the same input) lives in
BENCH/scaling.py; this script is the per-round single-level harness the driver
runs (default local[$SPARK_GRAFT_CPUS] at sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PR_ITERS = int(os.environ.get("BENCH_PR_ITERS", "10"))


def _sf(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    from graphina_spark.session import get_spark

    spark = get_spark("graphina_spark_bench")

    from graphina_spark.operators.components import connected_components
    from graphina_spark.operators.degree import degree_centrality
    from graphina_spark.operators.lpa import label_propagation
    from graphina_spark.operators.pagerank import pagerank
    from graphina_spark.operators.triangles import triangles
    from graphina_spark.sources.derived import block_graph, web_graph

    web = web_graph(spark, SF_DIR)
    block = block_graph(spark, SF_DIR)
    # materialize inputs once so query timings measure the operators, not the
    # parquet scan + edge derivation
    web.edges = web.edges.cache()
    web.vertices = web.vertices.cache()
    block.edges = block.edges.cache()
    block.vertices = block.vertices.cache()
    n_edges = web.edges.count()
    web.vertices.count()
    block.edges.count()
    block.vertices.count()

    # Size shuffle partitions to the DATA, not just the core count: at small
    # sf the per-task fixed cost (~10 ms scheduling + shuffle-file churn per
    # round) dwarfs the per-task work, and a 10-superstep kernel pays it
    # rounds × partitions times.  Standard rows-per-task sizing — ≥ ~50k
    # edges per shuffle task, floored at 4 (keep multi-task semantics
    # exercised), capped at the core count (the at-scale setting: 64M+ edges
    # saturate every core).  Measured at sf0.1/local[32]: 10.9 s → 4.6 s for
    # pagerank_10it, with value-identical results (the whole query surface
    # is parallelism-independence swept).  Runtime conf only — the at-scale
    # scaling harness (BENCH/scaling.py) sizes itself from its own input.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    parts = max(4, min(cpus, n_edges // 50_000))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))

    timings: dict[str, float] = {}

    def run(name: str, fn, reps: int = 2) -> None:
        # best-of-N: single-run timings at this data size swing ±40% from
        # GC/scheduler jitter (measured); the min is the stable signal
        best = None
        for _ in range(reps):
            t0 = time.time()
            df = fn()
            df.count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # untimed warmup: the first job pays JIT/codegen/GC ramp-up (measured up
    # to +50% on the first timed query otherwise — same rationale as the
    # warmup in BENCH/scaling.py)
    pagerank(web, fixed_iters=1, tol=None).count()

    run("pagerank_10it", lambda: pagerank(web, fixed_iters=PR_ITERS, tol=None))

    from graphina_spark.plans.shards import build_adj_shards

    adj = build_adj_shards(web)
    adj.shards.count()
    run(
        "pagerank_sharded_10it",
        lambda: pagerank(web, fixed_iters=PR_ITERS, tol=None, shards=adj),
    )
    run("components", lambda: connected_components(block))
    run("lpa_4it", lambda: label_propagation(block, fixed_iters=4))
    run("triangles", lambda: triangles(web))
    run("degree", lambda: degree_centrality(web))

    from graphina_spark.operators.approximation import (
        maximal_independent_set,
        maximal_matching,
    )
    from graphina_spark.operators.distmetrics import anf_neighborhood_function

    run("anf_8r", lambda: anf_neighborhood_function(web, k=8, fixed_rounds=8))
    run("luby_mis", lambda: maximal_independent_set(web))
    run("matching", lambda: maximal_matching(web))

    from graphina_spark.operators.walks import node2vec_walks

    run("node2vec_3steps", lambda: node2vec_walks(web, length=3))

    from graphina_spark.operators.coloring import greedy_coloring
    from graphina_spark.operators.wl import wl_refinement

    run("coloring_8r", lambda: greedy_coloring(web, rounds=8))
    run("wl_3r", lambda: wl_refinement(web, rounds=3))

    # training-data pipeline headliners — same callables the driver gates,
    # so the bench measures the gated code path exactly
    import __spark_entry__ as entrymod

    gated = entrymod.queries()
    run("minhash_lsh", lambda: gated["minhash_lsh"](spark, SF_DIR))
    run("text_stats", lambda: gated["text_stats"](spark, SF_DIR))
    run("triad_census", lambda: gated["triad_census_web"](spark, SF_DIR))
    run("simrank", lambda: gated["simrank_web"](spark, SF_DIR))
    run("topic_pagerank", lambda: gated["topic_pagerank_web"](spark, SF_DIR))
    run("structdup", lambda: gated["structdup_web"](spark, SF_DIR))
    run("bpe_merges", lambda: gated["bpe_merges"](spark, SF_DIR))
    run("push_ppr_6r", lambda: gated["push_ppr_web"](spark, SF_DIR))
    run("hitting_6r", lambda: gated["hitting_web"](spark, SF_DIR))
    run("freq_tokens", lambda: gated["freq_tokens"](spark, SF_DIR))
    run("contamination", lambda: gated["contamination"](spark, SF_DIR))
    run("core_track", lambda: gated["core_track_web"](spark, SF_DIR))
    run("pii_scrub", lambda: gated["pii_scrub"](spark, SF_DIR))
    run("line_dedup", lambda: gated["line_dedup"](spark, SF_DIR))
    run("bloom_seen", lambda: gated["bloom_seen_web"](spark, SF_DIR))
    run("crawl_schedule", lambda: gated["crawl_schedule"](spark, SF_DIR))
    run("topo_12r", lambda: gated["topo_layers_web"](spark, SF_DIR))
    run("s_core_12r", lambda: gated["s_core_web"](spark, SF_DIR))
    run("sage_export", lambda: gated["sage_agg_web"](spark, SF_DIR))
    run("khop_frontier", lambda: gated["khop_frontier_web"](spark, SF_DIR))
    run("config_model", lambda: gated["config_model_web"](spark, SF_DIR))
    run("egonet_burt", lambda: gated["burt_web"](spark, SF_DIR))
    run("motif4_census", lambda: gated["motif4_web"](spark, SF_DIR))
    run("balanced_part_4r", lambda: gated["balanced_part_web"](spark, SF_DIR))
    run("multilevel_part", lambda: gated["multilevel_part_web"](spark, SF_DIR))
    run("k_center_6", lambda: gated["k_center_embs"](spark, SF_DIR))
    run("copurchase_pr", lambda: gated["pagerank_parts"](spark, SF_DIR))
    run("fastrp_3it", lambda: gated["fastrp_web"](spark, SF_DIR))
    run("span_dedup", lambda: gated["span_dedup"](spark, SF_DIR))
    run("train_classifier_3ep", lambda: gated["train_classifier"](spark, SF_DIR))
    run("textrank_5it", lambda: gated["textrank_docs"](spark, SF_DIR))
    run("icws_sig_8", lambda: gated["icws_sig"](spark, SF_DIR))

    pr_sec = timings["pagerank_10it"]
    sec_per_iter = pr_sec / PR_ITERS
    out = {
        "metric": "linkgraph_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf(SF_DIR),
        "n_edges": n_edges,
        "pagerank_edges_per_sec": round(n_edges / sec_per_iter, 1),
        "pagerank_iters_per_hour": round(3600.0 / sec_per_iter, 1),
        "master": spark.sparkContext.master,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
