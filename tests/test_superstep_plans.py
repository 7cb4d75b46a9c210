"""Superstep plan shapes (plans/superstep.py): one steady-state superstep
plans the same exchanges and no broadcast of a graph-sized frame, whatever
the input size and the session's broadcast threshold.

A superstep's plan is the plan of the state its step returns plus the
plans of the frames the step itself cached or materialized (PageRank's
gather, CC's labels before the pointer jump).  Frames cached before the
loop (shards, ``vinfo``, ``sym``) are built once, so their
subtrees are skipped.  The counts are read inside the
loop, where its conf pins hold."""

import random

import pytest
from pyspark.sql import functions as F

from conftest import make_graph

import graphina_spark.operators.components as components_mod
import graphina_spark.operators.lpa as lpa_mod
import graphina_spark.operators.pagerank as pagerank_mod
from graphina_spark.plans.shards import build_adj_shards
from graphina_spark.session import pinned_conf

STEADY = 1  # the first superstep whose state a step produced
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
# 7 vertices; 0 has out-degree 3, so salt_cap=2 salts it
SMALL = [(0, 1), (1, 2), (2, 0), (2, 3), (0, 4), (0, 5), (5, 6)]


def _large(n=2000, seed=7):
    """~2k-vertex graph: a ring plus random chords (out-degrees above 2,
    so salt_cap=2 salts them)."""
    rng = random.Random(seed)
    edges = [(i, (i + 1) % n) for i in range(n)]
    edges += [(rng.randrange(n), rng.randrange(n)) for _ in range(2 * n)]
    return edges, n


def _children(plan):
    seq = plan.children()
    return [seq.apply(i) for i in range(seq.size())]


def _count(plan, out):
    """Add ``plan``'s exchange and broadcast-exchange nodes to ``out``,
    not descending into cached relations."""
    name = plan.getClass().getSimpleName()
    if name == "ShuffleExchangeExec":
        out["exchange"] += 1
    elif name == "BroadcastExchangeExec":
        out["broadcast"] += 1
    if name != "InMemoryTableScanExec":
        for c in _children(plan):
            _count(c, out)


def _shape(new, own):
    out = {"exchange": 0, "broadcast": 0}
    _count(new._jdf.queryExecution().executedPlan(), out)
    for df in own:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "InMemoryTableScanExec":
            plan = plan.relation().cachedPlan()
        _count(plan, out)
    return out


def _spy(monkeypatch, module):
    """Patch ``module`` so the STEADY superstep's plan shape is recorded
    into the returned dict: its state's plan, plus the plans of the frames
    the step cached (through the loop's ``cache``) or materialized."""
    real = module.run_supersteps
    seen: dict = {}
    own: list = []
    if hasattr(module, "local_materialize"):
        real_mat = module.local_materialize

        def materialize(df, eager=True):
            own.append(df)
            return real_mat(df, eager=eager)

        monkeypatch.setattr(module, "local_materialize", materialize)

    def run(spark, kernel, init, step, *a, **kw):
        calls = []

        def spy_step(state, cache):
            def spy_cache(df):
                own.append(cache(df))
                return own[-1]

            own.clear()
            new = step(state, spy_cache)
            if len(calls) == STEADY:
                seen.update(_shape(new, own))
            calls.append(1)
            return new

        return real(spark, kernel, init, spy_step, *a, **kw)

    monkeypatch.setattr(module, "run_supersteps", run)
    return seen


CASES = {
    # name -> (module, call(g) -> frame, shards salt_cap or None, shape)
    "pagerank_shards": (pagerank_mod, lambda g, adj: pagerank_mod.pagerank(
        g, fixed_iters=STEADY + 1, tol=None, shards=adj),
        100_000, {"exchange": 1, "broadcast": 0}),
    # the shards the kernel builds when the caller passes none
    "pagerank_default": (pagerank_mod, lambda g, adj: pagerank_mod.pagerank(
        g, fixed_iters=STEADY + 1, tol=None),
        None, {"exchange": 1, "broadcast": 0}),
    # the salted path replicates hub ranks per salt: the replicated rank
    # frame re-shuffles onto the (src, salt) shards, and salt_map is the
    # one, explicit, broadcast
    "pagerank_salted": (pagerank_mod, lambda g, adj: pagerank_mod.pagerank(
        g, fixed_iters=STEADY + 1, tol=None, shards=adj),
        2, {"exchange": 2, "broadcast": 1}),
    "lpa": (lpa_mod, lambda g, adj: lpa_mod.label_propagation(g, fixed_iters=STEADY + 1),
            None, {"exchange": 2, "broadcast": 0}),
    # the neighbour minimum, the pointer jump keyed by component, and the
    # new state re-keyed by id
    "cc": (components_mod, lambda g, adj: components_mod.connected_components(g, max_iter=STEADY + 1),
           None, {"exchange": 3, "broadcast": 0}),
}


# None: the session's own 64 MB threshold
@pytest.mark.parametrize("threshold", [None, "-1"], ids=["64MB", "off"])
@pytest.mark.parametrize("size", ["small", "large"])
@pytest.mark.parametrize("case", list(CASES))
def test_superstep_plan_shape(spark, monkeypatch, case, size, threshold):
    module, call, salt_cap, want = CASES[case]
    edges, n = (SMALL, 7) if size == "small" else _large()
    g = make_graph(spark, edges, n=n, directed=True)
    adj = build_adj_shards(g, salt_cap=salt_cap) if salt_cap else None
    if adj is not None:
        assert adj.salted == (salt_cap == 2)
    seen = _spy(monkeypatch, module)
    try:
        with pinned_conf(spark, {THRESHOLD: threshold} if threshold else {}):
            call(g, adj).count()
    finally:
        if adj is not None:
            adj.unpersist()
    assert seen == want


def test_seeded_lpa_has_no_broadcast(spark, monkeypatch):
    """The plain LPA shape, no broadcast: the seed frame is cached
    partitioned by id, so the clamp join moves no seed row."""
    edges, n = _large()
    g = make_graph(spark, edges, n=n, directed=False)
    seen = _spy(monkeypatch, lpa_mod)
    seeds = g.vertices.where(F.col("id") < 5).withColumn("label", F.col("id"))
    lpa_mod.seeded_label_propagation(g, seeds, fixed_iters=STEADY + 1).count()
    assert seen == {"exchange": 2, "broadcast": 0}
