#!/usr/bin/env python
"""Controlled three-way argmax comparison inside the LPA superstep.

One session, one cached input, identical superstep work — only the
per-vertex argmax formulation differs (window / max-struct / packed-long;
the max-then-min join measured worst and was removed).  This isolates the
plans/argmax.py claim from the heap and input confounds the full scaling
harness carries.

    taskset -c 0-7 python BENCH/argmax_bench.py [--pages 1000000]
                                                [--cores 8] [--rounds 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--avg-out", type=int, default=16)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--heap", default="24g")
    a = ap.parse_args()

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graphina_spark.graph import LinkGraph
    from graphina_spark.plans.argmax import argmax_long
    from graphina_spark.session import get_spark
    from graphina_spark.sources.pages import synth_pages

    spark = get_spark(
        "argmax_bench",
        master=f"local[{a.cores}]",
        shuffle_partitions=a.cores,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.driver.memory": a.heap,
        },
    )
    pgs = synth_pages(spark, a.pages, avg_out=a.avg_out, partitions=a.cores * 2)
    g = LinkGraph.from_pages(pgs.select("url", "html"))
    sym = g.undirected_view().select("src", "dst").repartition("src").cache()
    n_edges = sym.count()
    labels = g.vertices.select("id", F.col("id").alias("label")).cache()
    labels.count()
    max_deg = sym.groupBy("src").count().agg(F.max("count")).first()[0]
    max_label = g.vertices.agg(F.max("id")).first()[0]

    def freq():
        return (
            labels.alias("l")
            .join(sym.alias("e"), F.col("l.id") == F.col("e.src"))
            .groupBy(F.col("e.dst").alias("id"), F.col("l.label"))
            .agg(F.count("*").alias("cnt"))
        )

    def best_window(f):
        return argmax_long(f, "id", "cnt", "label", out_tie="new_label",
                           strategy="window")

    def best_struct(f):
        return (
            f.groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                       ).alias("m"))
            .select("id", (-F.col("m.nl")).alias("new_label"))
        )

    def best_packed(f):
        return argmax_long(f, "id", "cnt", "label", out_tie="new_label",
                           max_score=int(max_deg), max_tie=int(max_label),
                           strategy="packed")

    variants = {
        "window": best_window,
        "max_struct": best_struct,
        "packed": best_packed,
    }
    # untimed warmup (JIT/codegen)
    best_packed(freq()).count()

    out = {"pages": a.pages, "edges": n_edges, "cores": a.cores,
           "heap": a.heap, "sec_per_round": {}}
    for name, fn in variants.items():
        ts = []
        for _ in range(a.rounds):
            t0 = time.time()
            fn(freq()).count()
            ts.append(time.time() - t0)
        out["sec_per_round"][name] = round(statistics.median(ts), 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
