"""The shared superstep loop (plans/superstep.py): every job it launches is
described ``<kernel>:<phase>``, and the caller's description comes back."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from conftest import make_graph

from graphina_spark.operators.components import connected_components
from graphina_spark.operators.lpa import label_propagation, seeded_label_propagation
from graphina_spark.operators.pagerank import pagerank
from graphina_spark.plans.checkpoint import CheckpointManager

DESC = "spark.job.description"


def _jobs_after(sc, job_id):
    """(job id, description or None) of every job above ``job_id``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    it = jsc.statusStore().jobsList(None).iterator()
    out = []
    while it.hasNext():
        j = it.next()
        if j.jobId() > job_id:
            d = j.description()
            out.append((j.jobId(), d.get() if d.isDefined() else None))
    return sorted(out)


def _last_job(sc):
    return max((j for j, _ in _jobs_after(sc, -1)), default=-1)


def _descriptions(spark, call):
    """Descriptions of the jobs ``call()`` launches under the description
    ``caller``, which must come back after it."""
    sc = spark.sparkContext
    start = _last_job(sc)
    sc.setJobDescription("caller")
    try:
        call()
        assert sc.getLocalProperty(DESC) == "caller"
        return [d for _, d in _jobs_after(sc, start)]
    finally:
        sc.setLocalProperty(DESC, None)


def test_pagerank_job_descriptions(spark):
    """The kernel's own set-up jobs keep the caller's description, then the
    loop's phases follow in order.  The first superstep's action
    materializes the initial ranks, so there is no ``pagerank:init`` job."""
    g = make_graph(spark, [(0, 1), (1, 2), (2, 0), (2, 3)], n=4, directed=True)
    descs = _descriptions(spark, lambda: pagerank(g, fixed_iters=2, tol=None))
    order = ["caller", "pagerank:0", "pagerank:1"]
    assert set(descs) == set(order)
    assert descs == sorted(descs, key=order.index)


def test_pagerank_init_job_description(spark):
    """``init()`` launches a job only when it acts itself: the sum of
    ``nstart`` runs under ``pagerank:init``."""
    g = make_graph(spark, [(0, 1), (1, 2), (2, 0), (2, 3)], n=4, directed=True)
    nstart = g.vertices.select("id", F.lit(1.0).alias("value"))
    descs = _descriptions(
        spark, lambda: pagerank(g, fixed_iters=2, tol=None, nstart=nstart))
    order = ["caller", "pagerank:init", "pagerank:0", "pagerank:1"]
    assert set(descs) == set(order)
    assert descs == sorted(descs, key=order.index)


# a 7-vertex path: 6 is dangling, and CC needs 3 supersteps
PATH = [(i, i + 1) for i in range(6)]

# case -> (kernel, call(g, checkpoint), jobs per superstep)
JOBS = {
    # the step's action (the sink read) materializes the ranks it reads
    "pagerank_fixed": ("pagerank", lambda g, ck: pagerank(g, fixed_iters=5, tol=None), 1),
    # ... and the save materializes the new ranks
    "pagerank_checkpoint": ("pagerank", lambda g, ck: pagerank(
        g, fixed_iters=5, tol=None, checkpoint=ck), 2),
    # ... or the L1 delta does
    "pagerank_tol": ("pagerank", lambda g, ck: pagerank(g, tol=1e-12, max_iter=5), 2),
    # the changed count materializes the new labels; the save reads them
    "cc": ("cc", lambda g, ck: connected_components(g), 1),
    "cc_checkpoint": ("cc", lambda g, ck: connected_components(g, checkpoint=ck), 2),
    "lpa": ("lpa", lambda g, ck: label_propagation(g, max_iter=5), 1),
    # no action reads the state: the loop's settle is the one job.  It
    # guards against the unbounded chain of uncomputed lazy states (a
    # long fixed run overflowed the stack without it)
    "lpa_fixed": ("lpa", lambda g, ck: label_propagation(g, fixed_iters=5), 1),
    "lpa_fixed_checkpoint": ("lpa", lambda g, ck: label_propagation(
        g, fixed_iters=5, checkpoint=ck), 1),
    "seeded_lpa": ("seeded_lpa", lambda g, ck: seeded_label_propagation(
        g, g.vertices.where(F.col("id") < 2).withColumn("label", F.col("id")),
        fixed_iters=5), 1),
}


@pytest.mark.parametrize("case", list(JOBS))
def test_jobs_per_superstep(spark, tmp_path, case):
    """Every state is materialized by the first action that reads it, so a
    steady superstep launches only its step's, score's and save's jobs.
    Superstep 0 also runs set-up work (LPA's argmax bounds) and the last
    one the final settle, so supersteps 1 to k-2 are checked."""
    kernel, call, want = JOBS[case]
    g = make_graph(spark, PATH, n=7, directed=True)
    ck = CheckpointManager(str(tmp_path), case, {})
    sc = spark.sparkContext
    start = _last_job(sc)
    call(g, ck)
    jobs = Counter(d for _, d in _jobs_after(sc, start))
    assert f"{kernel}:init" not in jobs
    k = sum(f"{kernel}:{i}" in jobs for i in range(len(jobs)))
    assert k >= 3
    assert [jobs[f"{kernel}:{i}"] for i in range(1, k - 1)] == [want] * (k - 2)


def test_description_restored_after_raise(spark):
    g = make_graph(spark, [(0, 1)], n=2, directed=True)
    zeros = g.vertices.select("id", F.lit(0.0).alias("value"))
    with pytest.raises(ValueError, match="nstart sums to zero"):
        pagerank(g, nstart=zeros)
    assert spark.sparkContext.getLocalProperty(DESC) is None


PINNED = ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")


@pytest.mark.parametrize("kernel", ["pagerank", "cc", "lpa", "pagerank_raises"])
@pytest.mark.parametrize("caller", ["session", "set", "unset"])
def test_pinned_conf_restored(spark, kernel, caller):
    """The loop pins AQE off and auto-broadcast off; the caller gets its
    values back, also after a raise, and a key it never set stays unset."""
    g = make_graph(spark, [(0, 1), (1, 2), (2, 0), (2, 3)], n=4, directed=True)
    calls = {
        "pagerank": lambda: pagerank(g, fixed_iters=2, tol=None),
        "cc": lambda: connected_components(g),
        "lpa": lambda: label_propagation(g, max_iter=3),
    }
    before = {k: spark.conf.get(k, None) for k in PINNED}
    try:
        if caller == "set":
            spark.conf.set(PINNED[0], "true")
            spark.conf.set(PINNED[1], "12345")
        elif caller == "unset":
            for k in PINNED:
                spark.conf.unset(k)
        want = {k: spark.conf.get(k, None) for k in PINNED}
        if kernel == "pagerank_raises":
            zeros = g.vertices.select("id", F.lit(0.0).alias("value"))
            with pytest.raises(ValueError, match="nstart sums to zero"):
                pagerank(g, nstart=zeros)
        else:
            calls[kernel]().count()
        assert {k: spark.conf.get(k, None) for k in PINNED} == want
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
