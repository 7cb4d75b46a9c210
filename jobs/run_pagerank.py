#!/usr/bin/env python
"""spark-submit entrypoint: PageRank over a crawl, checkpointed + resumable.

Cluster (north-rule ship shape):
    python jobs/package.py   # builds dist/graphina_spark.zip
    spark-submit --master <cluster> --py-files dist/graphina_spark.zip \\
        jobs/run_pagerank.py --pages-parquet s3://.../pages \\
        --checkpoint-dir s3://.../ckpt --run-id cc-2026-08 --out s3://.../ranks

Sandbox (local[N]):
    python jobs/run_pagerank.py --synth-pages 10000 --out /tmp/ranks \\
        --checkpoint-dir /tmp/ckpt --run-id demo
    # kill it mid-run, then re-run with --resume: it continues from the last
    # complete checkpointed iteration (manifest-gated, crash-consistent)

Input is either a pages table of the input_hint shape
(url, warc_ts, html, text, lang) — html is parsed to edges via the Arrow
UDFs — or a prebuilt edge table (src, dst[, weight]).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages-parquet", help="pages table (url, ..., html, ...)")
    src.add_argument("--edges-parquet", help="edge table (src, dst[, weight])")
    src.add_argument("--synth-pages", type=int, help="generate N synthetic pages")
    ap.add_argument("--out", required=True)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--undirected", action="store_true")
    ap.add_argument("--salt-cap", type=int, default=100_000)
    ap.add_argument("--checkpoint-dir")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--resume", action="store_true")
    a = ap.parse_args()

    from graphina_spark.graph import LinkGraph
    from graphina_spark.operators.pagerank import pagerank
    from graphina_spark.plans.checkpoint import CheckpointManager
    from graphina_spark.plans.shards import build_adj_shards
    from graphina_spark.session import get_spark
    from graphina_spark.sources.pages import synth_pages

    spark = get_spark("run_pagerank")
    if a.pages_parquet:
        g = LinkGraph.from_pages(
            spark.read.parquet(a.pages_parquet), directed=not a.undirected
        )
    elif a.synth_pages:
        g = LinkGraph.from_pages(
            synth_pages(spark, a.synth_pages), directed=not a.undirected
        )
    else:
        g = LinkGraph.from_edges(
            spark.read.parquet(a.edges_parquet), directed=not a.undirected
        )

    ckpt = None
    if a.checkpoint_dir:
        ckpt = CheckpointManager(
            base=a.checkpoint_dir,
            run_id=a.run_id,
            params={
                "alg": "pagerank",
                "damping": a.damping,
                "tol": a.tol,
                "max_iter": a.max_iter,
                "undirected": a.undirected,
            },
        )

    adj = build_adj_shards(g, salt_cap=a.salt_cap)
    t0 = time.time()
    pr = pagerank(
        g,
        damping=a.damping,
        max_iter=a.max_iter,
        tol=a.tol,
        shards=adj,
        checkpoint=ckpt,
        resume=a.resume,
    )
    pr.write.mode("overwrite").parquet(a.out)
    n = spark.read.parquet(a.out).count()
    print(json.dumps({"out": a.out, "rows": n, "wall_sec": round(time.time() - t0, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
