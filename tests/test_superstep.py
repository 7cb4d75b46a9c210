"""The shared superstep loop (plans/superstep.py): every job it launches is
described ``<kernel>:<phase>``, and the caller's description comes back."""

import pytest
from pyspark.sql import functions as F

from conftest import make_graph

from graphina_spark.operators.components import connected_components
from graphina_spark.operators.lpa import label_propagation
from graphina_spark.operators.pagerank import pagerank

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


def test_pagerank_job_descriptions(spark):
    g = make_graph(spark, [(0, 1), (1, 2), (2, 0), (2, 3)], n=4, directed=True)
    sc = spark.sparkContext
    start = max((j for j, _ in _jobs_after(sc, -1)), default=-1)
    sc.setJobDescription("caller")
    try:
        pagerank(g, fixed_iters=2, tol=None)
        assert sc.getLocalProperty(DESC) == "caller"
        descs = [d for _, d in _jobs_after(sc, start)]
    finally:
        sc.setLocalProperty(DESC, None)
    # the kernel's own set-up jobs keep the caller's description, then the
    # loop's phases follow in order
    order = ["caller", "pagerank:init", "pagerank:0", "pagerank:1"]
    assert set(descs) == set(order)
    assert descs == sorted(descs, key=order.index)


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
