"""Checkpoint/resume: kill-after-iteration-k → resume → identical final
scores (north rule), manifest lineage gating, crash consistency."""

import glob
import json
import os
import re

import pytest

from conftest import make_graph

from graphina_spark.operators.components import connected_components
from graphina_spark.operators.lpa import label_propagation
from graphina_spark.operators.pagerank import pagerank
from graphina_spark.plans.checkpoint import CheckpointManager
from graphina_spark.sources.derived import web_graph

PARAMS = {"alg": "pagerank", "damping": 0.85, "iters": 8}


def _pr(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def test_resume_matches_uninterrupted(spark, sf_dir, tmp_path):
    g = web_graph(spark, sf_dir)
    full = _pr(pagerank(g, fixed_iters=8, tol=None))

    ck = CheckpointManager(base=str(tmp_path), run_id="runA", params=PARAMS)
    # "crash" after 4 supersteps
    pagerank(g, fixed_iters=4, tol=None, checkpoint=ck)
    # resume and finish to 8
    resumed = _pr(pagerank(g, fixed_iters=8, tol=None, checkpoint=ck, resume=True))
    assert resumed.keys() == full.keys()
    assert all(abs(resumed[k] - full[k]) < 1e-12 for k in full)

    # manifests recorded per iteration with lineage + partition metrics
    manifests = sorted(glob.glob(os.path.join(str(tmp_path), "runA", "manifest-*.json")))
    assert len(manifests) == 8
    m = json.load(open(manifests[-1]))
    assert m["iteration"] == 7
    assert m["lineage"] == ck.lineage_hash()
    assert m["rows"] == g.num_vertices()
    assert len(m["partitions"]) >= 1
    assert m["parent_iteration"] == 6


def test_resume_ignores_other_params(spark, sf_dir, tmp_path):
    g = web_graph(spark, sf_dir)
    ck1 = CheckpointManager(base=str(tmp_path), run_id="runB", params={"damping": 0.85})
    pagerank(g, fixed_iters=2, tol=None, checkpoint=ck1)
    # same run dir, different params → lineage mismatch → fresh start
    ck2 = CheckpointManager(base=str(tmp_path), run_id="runB", params={"damping": 0.5})
    assert ck2.latest(spark) is None
    found = ck1.latest(spark)
    assert found is not None and found[0] == 1


def test_crash_consistency_missing_manifest(spark, sf_dir, tmp_path):
    """An iteration whose manifest was never written (crash mid-commit) is
    invisible to resume."""
    g = web_graph(spark, sf_dir)
    ck = CheckpointManager(base=str(tmp_path), run_id="runC", params=PARAMS)
    pagerank(g, fixed_iters=3, tol=None, checkpoint=ck)
    os.remove(os.path.join(ck.run_dir, "manifest-00002.json"))
    it, df, manifest = ck.latest(spark)
    assert it == 1
    assert df.count() == g.num_vertices()
    assert manifest["iteration"] == 1


def test_convergence_deltas_recorded(spark, sf_dir, tmp_path):
    g = web_graph(spark, sf_dir)
    ck = CheckpointManager(base=str(tmp_path), run_id="runD", params={"x": 1})
    pagerank(g, tol=1e-3, max_iter=50, checkpoint=ck)
    manifests = sorted(glob.glob(os.path.join(str(tmp_path), "runD", "manifest-*.json")))
    deltas = [json.load(open(p))["delta"] for p in manifests]
    assert all(d is not None for d in deltas)
    assert deltas[-1] < 1e-3  # run stopped because tolerance was hit
    assert deltas == sorted(deltas, reverse=True)  # monotone decreasing here


def _clique(nodes):
    return [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]


# a 40-vertex path takes cc several pointer-jumping supersteps; a chain of
# 5-cliques keeps label propagation moving for a few supersteps
PATH40 = [(i, i + 1) for i in range(39)]
CLIQUE_CHAIN = [e for c in range(6) for e in _clique(range(5 * c, 5 * c + 5))] + [
    (5 * c + 4, 5 * c + 5) for c in range(5)
]

# kernel -> (graph edges, call(g, **checkpoint_kw), label column)
RESUMABLE = {
    "cc": (PATH40, lambda g, **kw: connected_components(g, **kw), "component"),
    "lpa_converging": (
        CLIQUE_CHAIN, lambda g, **kw: label_propagation(g, max_iter=20, **kw), "label"),
    "lpa_fixed": (
        CLIQUE_CHAIN, lambda g, **kw: label_propagation(g, fixed_iters=6, **kw), "label"),
}


@pytest.mark.parametrize("kernel", sorted(RESUMABLE))
def test_label_kernel_resume_reruns_only_tail(spark, tmp_path, kernel):
    """Interrupt after k supersteps (no manifest from iteration k on), resume:
    same labels as the uninterrupted run, and only supersteps k.. rerun."""
    edges, run, col = RESUMABLE[kernel]
    n = 1 + max(max(e) for e in edges)
    g = make_graph(spark, edges, n=n, directed=False)

    def labels(df):
        return {r["id"]: r[col] for r in df.collect()}

    full = labels(run(g))
    ck = CheckpointManager(base=str(tmp_path), run_id=kernel, params={"k": kernel})
    assert labels(run(g, checkpoint=ck)) == full
    pattern = os.path.join(ck.run_dir, "manifest-*.json")
    manifests = sorted(glob.glob(pattern))
    assert len(manifests) >= 3
    k = len(manifests) // 2
    for path in manifests[k:]:
        os.remove(path)
    head = {p: os.stat(p).st_mtime_ns for p in manifests[:k]}

    assert labels(run(g, checkpoint=ck, resume=True)) == full
    after = sorted(glob.glob(pattern))
    assert after == manifests  # the tail supersteps ran again, no more
    assert {p: os.stat(p).st_mtime_ns for p in after[:k]} == head
    last = json.load(open(after[-1]))
    if kernel == "lpa_fixed":
        assert last["delta"] is None
    else:
        assert last["delta"] == 0  # the changed-label count that stopped it


def _launched(sc, call):
    """``call()``'s result and the descriptions of the jobs it launched."""
    jsc = sc._jsc.sc()

    def jobs():
        jsc.listenerBus().waitUntilEmpty()
        it = jsc.statusStore().jobsList(None).iterator()
        out = {}
        while it.hasNext():
            j = it.next()
            d = j.description()
            out[j.jobId()] = d.get() if d.isDefined() else None
        return out

    start = max(jobs(), default=-1)
    result = call()
    return result, [d for j, d in jobs().items() if j > start]


# kernels run to their stop rule, keyed like RESUMABLE
CONVERGING = {
    "pagerank": (
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 0)],
        lambda g, **kw: pagerank(g, tol=1e-6, **kw), "rank"),
    "cc": RESUMABLE["cc"],
}


@pytest.mark.parametrize("kernel", sorted(CONVERGING))
def test_resume_after_convergence_runs_no_superstep(spark, tmp_path, kernel):
    """A checkpointed run that met its stop rule resumes as it stopped: no
    superstep job, no new manifest, the same output and stats."""
    edges, call, col = CONVERGING[kernel]
    g = make_graph(spark, edges, n=1 + max(max(e) for e in edges), directed=False)

    def run(g, **kw):
        return {r["id"]: r[col] for r in call(g, **kw).collect()}

    ck = CheckpointManager(base=str(tmp_path), run_id=kernel, params={"k": kernel})
    kw = {"stats": {}} if kernel == "pagerank" else {}
    full = run(g, checkpoint=ck, **kw)
    pattern = os.path.join(ck.run_dir, "manifest-*.json")
    manifests = {p: os.stat(p).st_mtime_ns for p in glob.glob(pattern)}
    assert json.load(open(max(manifests)))["delta"] is not None

    rkw = {"stats": {}} if kernel == "pagerank" else {}
    resumed, descs = _launched(
        spark.sparkContext, lambda: run(g, checkpoint=ck, resume=True, **rkw))
    assert not [d for d in descs if d and re.fullmatch(rf"{kernel}:\d+", d)]
    assert {p: os.stat(p).st_mtime_ns for p in glob.glob(pattern)} == manifests
    assert resumed == full
    assert rkw == kw
