"""One workload inside one Spark driver JVM, launched by ``run.py`` through
``spark-submit --py-files graphina_spark.zip``.

Generates the workload's input from the seed (set-up, repeated so its
median is steady), runs the timed calls into the program's public
functions, checks every output against ``checks.py`` outside the timed
region, and writes one JSON document to ``--out``.  Tracing (``--trace 1``)
wraps every call in a span and adds the per-layer numbers.

A traced ``pagerank_hubs`` run ends by timing fixed PageRank supersteps
again on one core, for the scaling efficiency.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import checks
from tracer import Tracer

from graphina_spark.functions.extract import extract_text_udf, parse_links_udf
from graphina_spark.graph import LinkGraph
from graphina_spark.operators.components import connected_components
from graphina_spark.operators.lpa import label_propagation
from graphina_spark.operators.pagerank import pagerank
from graphina_spark.operators.triangles import triangles
from graphina_spark.plans.checkpoint import CheckpointManager
from graphina_spark.plans.shards import build_adj_shards
from graphina_spark.session import get_spark
from graphina_spark.sources.generators import watts_strogatz
from graphina_spark.sources.pages import URL_PREFIX, synth_pages
from pyspark.sql import functions as F

# Input sizes.  On a 4-vCPU VM every superstep at this scale costs ~1 s of
# fixed Spark scheduling, so the sizes are set by the run-length budget,
# not by RAM.
CRAWL_PAGES = 10_000  # pagerank_hubs: ~8 links per page (1..16)
CRAWL_AVG_OUT = 8
CRAWL_ZIPF = 0.8
WS_N = 10_000  # communities: Watts-Strogatz ring, k=10, beta=0.05
WS_K = 10
WS_BETA = 0.05

SETUP_REPS = 3
PR_DAMPING = 0.85
# Supersteps per PageRank solve.  To L1 < 1e-6 this crawl needs 16 to 20
# supersteps depending on the seed, which alone would move the solve time
# by up to 25% between seeds; a fixed count keeps every seed's work equal
# and the run inside its time budget.
PR_SUPERSTEPS = 10
RESUME_TAIL = 2  # supersteps the interrupted run still has to do
LPA_ITERS = 5
DIFF_LO, DIFF_HI = 1, 3  # fixed supersteps of the scaling differential


class Run:
    """State of one workload run: session, tracer, timings, op outcomes."""

    def __init__(self, args, spark, tracer):
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.work = args.work
        self.seed = args.seed
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, problems: list[str]) -> None:
        """Count one checked operation; any problem marks it failed."""
        self.attempted += 1
        self.failed += bool(problems)
        self.failures.extend(problems)

    def set_up(self, make) -> object:
        """Run ``make`` SETUP_REPS times; keep the median time and the last
        output (every repetition builds the same input from the seed)."""
        times = []
        for _ in range(SETUP_REPS):
            with self.tracer.span("sources.setup"):
                t0 = time.perf_counter()
                out = make()
                times.append(time.perf_counter() - t0)
        self.metrics["setup_input_s"] = statistics.median(times)
        self.layer["sources.generate_s"] = statistics.median(times)
        return out


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by the driver JVM (this process's parent)
    and all its descendants: this process and the Python workers, with
    exited children counted through their parents.  Time the hypervisor
    stole from the machine is not in it."""
    children: dict[int, list[int]] = {}
    times: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        times[pid] = sum(int(x) for x in fields[11:15])  # u+s time, own and reaped
    total, todo = 0, [os.getppid()]
    while todo:
        p = todo.pop()
        total += times.get(p, 0)
        todo.extend(children.get(p, ()))
    return total / _TICK


def stamp() -> tuple[float, float]:
    """(wall, cpu) seconds, to subtract from a later stamp."""
    return time.perf_counter(), tree_cpu_s()


def _read_pairs(path: str, a: str, b: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path, columns=[a, b])
    return t.column(a).to_numpy(), t.column(b).to_numpy()


# ------------------------------------------------------------------ inputs
def crawl_pages(spark, n: int, seed: int, path: str):
    synth_pages(spark, n, avg_out=CRAWL_AVG_OUT, zipf_theta=CRAWL_ZIPF, seed=seed) \
        .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def crawl_graph(spark, n: int, edges_path: str) -> LinkGraph:
    return LinkGraph.from_edges(
        spark.read.parquet(edges_path), directed=True, vertices=spark.range(n)
    )


# ---------------------------------------------------------- pagerank_hubs
def _manifests(ck: CheckpointManager) -> dict[str, dict]:
    """Manifest file path -> manifest, for every committed iteration."""
    out = {}
    for fn in sorted(os.listdir(ck.run_dir)):
        if fn.startswith("manifest-") and fn.endswith(".json"):
            path = os.path.join(ck.run_dir, fn)
            with open(path) as f:
                out[path] = json.load(f)
    return out


def _ranks(df) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.toPandas()
    return pdf["id"].to_numpy(), pdf["rank"].to_numpy()


def superstep_seconds(g: LinkGraph, adj, tracer) -> float:
    """Sustained seconds per fixed superstep: t(hi) - t(lo) cancels the
    per-call set-up jobs (the BENCH/scaling.py differential)."""
    def fixed(k):
        return pagerank(g, fixed_iters=k, tol=None, shards=adj,
                        shards_min_edges=0).count()

    fixed(1)  # warm
    with tracer.span("operators.pagerank.fixed", iters=DIFF_LO):
        _, t_lo = _timed(lambda: fixed(DIFF_LO))
    with tracer.span("operators.pagerank.fixed", iters=DIFF_HI):
        _, t_hi = _timed(lambda: fixed(DIFF_HI))
    return (t_hi - t_lo) / (DIFF_HI - DIFF_LO)


def pagerank_hubs(run: Run) -> None:
    spark, n, tr = run.spark, CRAWL_PAGES, run.tracer
    pages_path = run.path("pages")
    pages = run.set_up(lambda: crawl_pages(spark, n, run.seed, pages_path))
    run.layer["sources.rows"] = n
    out_v, out_e, out_t = (run.path(x) for x in ("vertices", "edges", "text"))
    ck = CheckpointManager(run.path("ck"), "main",
                           {"damping": PR_DAMPING, "supersteps": PR_SUPERSTEPS, "seed": run.seed})
    stats: dict = {}
    with tr.span("bench.solve"):
        s0 = stamp()
        with tr.span("graph.from_pages") as sp_g:
            lg = LinkGraph.from_pages(pages.select("url", "html"))
            lg.vertices.write.parquet(out_v)
            lg.edges.write.parquet(out_e)
        s1 = stamp()
        with tr.span("functions.extract_text"):
            pages.select("url", extract_text_udf("html").alias("text")).write.parquet(out_t)
        s2 = stamp()
        spark.catalog.clearCache()  # from_pages leaves its parsed links cached
        g = crawl_graph(spark, n, out_e)
        with tr.span("plans.shards.build"):
            adj = build_adj_shards(g, dangling_sink=True)
            shard_rows = adj.shards.count()
        s3 = stamp()
        with tr.span("operators.pagerank") as sp_pr:
            pr_ids, pr_rank = _ranks(pagerank(
                g, damping=PR_DAMPING, fixed_iters=PR_SUPERSTEPS, shards=adj,
                shards_min_edges=0, checkpoint=ck, stats=stats))
        s4 = stamp()
    (t0, c0), (t1, c1), (t2, c2), (t3, c3), (t4, c4) = s0, s1, s2, s3, s4
    iters = stats["iterations"]
    manifests = _manifests(ck)

    # interrupt after k supersteps: a crash leaves no manifest past k, and
    # the resumed run must redo only the tail
    k = max(1, iters - RESUME_TAIL)
    for path, m in manifests.items():
        if m["iteration"] >= k:
            os.remove(path)
    rstats: dict = {}
    with tr.span("operators.pagerank.resume"):
        (rs_ids, rs_rank), t_resume = _timed(lambda: _ranks(pagerank(
            g, damping=PR_DAMPING, fixed_iters=PR_SUPERSTEPS, shards=adj,
            shards_min_edges=0, checkpoint=ck, resume=True, stats=rstats)))
    resumed_iters = rstats["iterations"] - k

    with tr.span("bench.check"):
        want = pq.read_table(pages_path, columns=["url", "html", "text"]).to_pydict()
        src, dst = checks.crawl_links(want["url"], want["html"], URL_PREFIX)
        vid, vurl = _read_pairs(out_v, "id", "url")
        url_no = np.array([int(u[len(URL_PREFIX):]) for u in vurl.tolist()])
        run.op(checks.check_exact("vertex ids", np.sort(vid), np.arange(n))
               + checks.check_exact("id = page number", vid, url_no))
        es, ed = _read_pairs(out_e, "src", "dst")
        run.op(checks.check_edge_set("edges", es, ed, src, dst, n))
        turl, ttext = _read_pairs(out_t, "url", "text")
        text_problems = checks.check_texts(
            dict(zip(turl.tolist(), ttext.tolist())), dict(zip(want["url"], want["text"])))
        run.op(text_problems)
        run.op([f"shard rows {shard_rows} != {n}"] if shard_rows != n else [])
        want_pr = checks.pagerank_power(n, src, dst, PR_DAMPING, PR_SUPERSTEPS)
        got, bad = checks.dense(n, pr_ids, pr_rank, "pagerank")
        run.op(bad or checks.check_close("pagerank vs power iteration", got, want_pr))
        got_r, bad = checks.dense(n, rs_ids, rs_rank, "resumed pagerank")
        run.op(bad or checks.check_close("resumed vs uninterrupted", got_r, got))

    superstep = (t4 - t3 - t_resume) / (iters - resumed_iters)
    run.metrics.update(solve_s=t4 - t0, solve_cpu_s=c4 - c0,
                       edges_per_s=len(src) / superstep)
    run.layer.update({
        "ingest_pages_per_s": n / (t2 - t0),
        "ingest_cpu_s": c2 - c0,
        "shards_cpu_s": c3 - c2,
        "pagerank_cpu_s": c4 - c3,
        "graph.from_pages_s": t1 - t0,
        "functions.extract_text_s": t2 - t1,
        "functions.text_mismatches": len(text_problems),
        "pagerank_s": t4 - t2,
        "resume_s": t_resume,
        "shards.build_s": t3 - t2,
        "shards.rows": shard_rows,
        "pagerank.supersteps": iters,
        "pagerank.superstep_s": superstep,
        "checkpoint.save_ms": statistics.median(m["wall_ms"] for m in manifests.values()),
        "checkpoint.bytes_per_superstep": statistics.mean(
            sum(p["bytes"] for p in m["partitions"]) for m in manifests.values()),
        "checkpoint.files_per_superstep": statistics.mean(
            len(m["partitions"]) for m in manifests.values()),
        "graph.vertices": n,
        "graph.edges": len(src),
    })
    if not tr.enabled:
        return
    g_tot = tr.total(sp_g)
    run.layer["graph.shuffle_bytes"] = g_tot["shuffleWriteBytes"]
    run.layer["graph.spill_bytes"] = g_tot["diskBytesSpilled"]
    # the link-parsing UDF alone, outside the timed pass
    with tr.span("functions.parse_links"):
        run.layer["functions.links"], run.layer["functions.parse_links_s"] = _timed(
            lambda: pages.select(F.explode(parse_links_udf("html", "url"))).count())
    pr_tot = tr.total(sp_pr)
    wall = sp_pr["end"] - sp_pr["start"]
    run.layer.update({
        "pagerank.jobs_per_superstep": pr_tot["jobs"] / iters,
        "pagerank.tasks_per_superstep": pr_tot["numTasks"] / iters,
        "pagerank.shuffle_bytes_per_superstep": pr_tot["shuffleWriteBytes"] / iters,
        "pagerank.core_util": pr_tot["executorRunTime"] / 1000 / (wall * _cores(spark)),
        "shards.salted_src": adj.salt_map.count(),
    })
    per_bucket = [r[0] for r in adj.shards.groupBy("bucket").count().select("count").collect()]
    run.layer["shards.bucket_skew"] = max(per_bucket) / statistics.mean(per_bucket)
    with tr.span("plans.checkpoint.latest"):
        _, run.layer["checkpoint.latest_s"] = _timed(lambda: ck.latest(spark))
    run.layer["pagerank.fixed_superstep_s"] = superstep_seconds(g, adj, tr)


def _cores(spark) -> int:
    return int(spark.sparkContext.defaultParallelism)


def one_core_superstep(run: Run) -> tuple[float, list[dict]]:
    """The fixed-superstep differential again on one core, for the scaling
    efficiency.  The local[4] session must be stopped first; the JVM and
    this process are then pinned to their first CPU (what ``taskset``
    does, thread by thread) and a local[1] session re-reads the edge table
    the local[4] session wrote."""
    cpu = min(os.sched_getaffinity(0))
    for pid in (os.getppid(), os.getpid()):
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                os.sched_setaffinity(int(tid), {cpu})
            except ProcessLookupError:
                pass  # thread exited meanwhile
    spark = get_spark("perfbench-1core", master="local[1]")
    try:
        tracer = Tracer(spark, True, run.tracer.run_id + "-1core")
        g = crawl_graph(spark, CRAWL_PAGES, run.path("edges"))
        with tracer.span("plans.shards.build"):
            adj = build_adj_shards(g, dangling_sink=True)
            adj.shards.count()
        return superstep_seconds(g, adj, tracer), tracer.spans
    finally:
        spark.stop()


# ------------------------------------------------------------ communities
def ws_graph(spark, n: int, seed: int, path: str) -> LinkGraph:
    watts_strogatz(spark, n, WS_K, WS_BETA, seed=seed).edges \
        .write.mode("overwrite").parquet(path)
    return LinkGraph.from_edges(
        spark.read.parquet(path), directed=False, vertices=spark.range(n))


def communities(run: Run) -> None:
    spark, n, tr = run.spark, WS_N, run.tracer
    edges_path = run.path("ws-edges")
    g = run.set_up(lambda: ws_graph(spark, n, run.seed, edges_path))
    src, dst = _read_pairs(edges_path, "src", "dst")
    want_cc = checks.components_min_label(n, src, dst)
    want_lpa = checks.lpa_sync(n, src, dst, LPA_ITERS)
    want_tri = checks.triangles_per_node(n, src, dst)

    def solve() -> dict:
        rep = {}
        for name, call, col, want in (
            ("cc", lambda: connected_components(g), "component", want_cc),
            ("lpa", lambda: label_propagation(g, fixed_iters=LPA_ITERS), "label", want_lpa),
            ("triangles", lambda: triangles(g), "triangles", want_tri),
        ):
            with tr.span(f"operators.{name}") as sp:
                a = stamp()
                out = call().toPandas()
                b = stamp()
            rep[name], rep[f"{name}.cpu"] = b[0] - a[0], b[1] - a[1]
            rep[f"{name}.span"] = sp
            with tr.span("bench.check"):
                got, bad = checks.dense(n, out["id"].to_numpy(), out[col].to_numpy(), name)
                run.op(bad or checks.check_exact(name, got, want))
        rep["solve"] = rep["cc"] + rep["lpa"] + rep["triangles"]
        rep["solve.cpu"] = rep["cc.cpu"] + rep["lpa.cpu"] + rep["triangles.cpu"]
        return rep

    reps = []
    while not reps or sum(r["solve"] for r in reps) < run.args.seconds:
        with tr.span("bench.solve"):
            reps.append(solve())

    def med(key):
        return statistics.median(r[key] for r in reps)

    run.metrics.update(solve_s=med("solve"), solve_cpu_s=med("solve.cpu"),
                       edges_per_s=len(src) / med("solve"))
    prev = checks.lpa_sync(n, src, dst, LPA_ITERS - 1)
    run.layer.update({
        "sources.rows": len(src),
        "cc_s": med("cc"), "lpa_s": med("lpa"), "triangles_s": med("triangles"),
        "cc_cpu_s": med("cc.cpu"), "lpa_cpu_s": med("lpa.cpu"),
        "triangles_cpu_s": med("triangles.cpu"),
        "triangles.total": int(want_tri.sum()) // 3,
        "lpa.changed_last": int((prev != want_lpa).sum()),
        "graph.vertices": n,
        "graph.edges": len(src),
    })
    if tr.enabled:
        cc_span = reps[-1]["cc.span"]
        sc, sl, st = (tr.total(reps[-1][f"{x}.span"]) for x in ("cc", "lpa", "triangles"))
        # connected_components materializes its labels once up front and
        # once per superstep (plans.materialize.local_materialize)
        ckpts = sum(j.startswith("localCheckpoint") for j in cc_span["job_names"])
        run.layer.update({
            "cc.supersteps": ckpts - 1,
            "cc.jobs": sc["jobs"], "cc.shuffle_bytes": sc["shuffleWriteBytes"],
            "lpa.jobs": sl["jobs"], "lpa.shuffle_bytes": sl["shuffleWriteBytes"],
            "triangles.shuffle_bytes": st["shuffleWriteBytes"],
            "triangles.spill_bytes": st["diskBytesSpilled"],
        })


WORKLOADS = {"pagerank_hubs": pagerank_hubs, "communities": communities}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    started = time.time()

    spark, session_s = _timed(lambda: get_spark(f"perfbench-{args.workload}"))
    tracer = Tracer(spark, bool(args.trace), f"{args.workload}-{args.seed}")
    run = Run(args, spark, tracer)
    run.layer["session.start_s"] = session_s
    try:
        WORKLOADS[args.workload](run)
        if tracer.enabled:
            eng = tracer.engine_totals()
            run.layer.update({
                "spark.gc_s": eng["jvmGcTime"] / 1000,
                "spark.failed_tasks": eng["numFailedTasks"],
                "spark.spill_bytes": eng["diskBytesSpilled"],
                "trace.read_s": tracer.read_s,
            })
            run.failed += eng["numFailedTasks"]
        jvm = spark.sparkContext._jvm
        doc = {
            "python_started": started,
            "session_ready": started + session_s,
            "session_s": session_s,
            "metrics": run.metrics,
            "layer": run.layer,
            "attempted": run.attempted,
            "failed": run.failed,
            "failures": run.failures,
            "env": {
                "spark": spark.version,
                "java": jvm.java.lang.System.getProperty("java.version"),
                "cores": _cores(spark),
                "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            },
            "spans": tracer.spans,
        }
    finally:
        spark.stop()
    if tracer.enabled and args.workload == "pagerank_hubs":
        run.layer["pagerank.fixed_superstep_1core_s"], spans = one_core_superstep(run)
        doc["spans"] += spans
    with open(args.out, "w") as f:
        json.dump(doc, f)


if __name__ == "__main__":
    main()
