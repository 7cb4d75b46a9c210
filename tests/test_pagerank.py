"""PageRank correctness vs the pinned reference semantics.

Named fixtures mirror the reference's own unit tests
(/root/reference/src/centrality/pagerank.rs:138-261); the random corpus
mirrors its NetworkX-oracle replay design (tests/oracle_centrality_tests.rs).
"""

import random

import pytest

from conftest import make_graph
from reference_impl import ref_pagerank

from graphina_spark.operators.pagerank import pagerank, personalized_pagerank


def ranks_dict(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def assert_close(got, exp, eps=1e-6):
    assert set(got) == set(range(len(exp)))
    for i, e in enumerate(exp):
        assert abs(got[i] - e) < eps, f"node {i}: {got[i]} vs {e}"


def test_cycle3_directed(spark):
    # 0→1→2→0: equal ranks 1/3, Σ=1 (pagerank.rs:173-196)
    g = make_graph(spark, [(0, 1), (1, 2), (2, 0)], n=3, directed=True)
    got = ranks_dict(pagerank(g, max_iter=200, tol=1e-10))
    assert_close(got, [1 / 3] * 3)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_dangling_fan_converged(spark):
    # 0→1, 0→2: dangling sinks outrank the source (pagerank.rs:198-214).
    # The one tolerance-driven test (others pin fixed_iters for speed).
    g = make_graph(spark, [(0, 1), (0, 2)], n=3, directed=True)
    got = ranks_dict(pagerank(g, max_iter=300, tol=1e-8))
    exp = ref_pagerank(3, [(0, 1), (0, 2)], max_iter=300, tol=1e-8)
    assert_close(got, exp)
    assert got[1] > got[0] and got[2] > got[0]


def test_weighted_directed(spark):
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    weights = [3.0, 1.0, 2.0, 5.0, 1.0]
    g = make_graph(spark, edges, n=4, directed=True, weights=weights)
    got = ranks_dict(pagerank(g, fixed_iters=25, tol=None))
    exp = ref_pagerank(4, edges, weights, fixed_iters=25)
    assert_close(got, exp, eps=1e-10)


def test_undirected_symmetrization(spark):
    edges = [(0, 1), (1, 2), (2, 3)]
    g = make_graph(spark, edges, n=4, directed=False)
    got = ranks_dict(pagerank(g, fixed_iters=25, tol=None))
    exp = ref_pagerank(4, edges, directed=False, fixed_iters=25)
    assert_close(got, exp, eps=1e-10)


def test_nstart_zero_sum_errors(spark):
    g = make_graph(spark, [(0, 1)], n=2, directed=True)
    ns = spark.createDataFrame([(0, 0.0), (1, 0.0)], "id long, value double")
    with pytest.raises(ValueError):
        pagerank(g, nstart=ns)  # pagerank.rs:76-80


def test_nstart_normalized(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 1)]
    g = make_graph(spark, edges, n=3, directed=True)
    ns = spark.createDataFrame([(0, 4.0), (1, 2.0), (2, 2.0)], "id long, value double")
    got = ranks_dict(pagerank(g, nstart=ns, fixed_iters=3, tol=None))
    exp = ref_pagerank(3, edges, nstart=[4.0, 2.0, 2.0], fixed_iters=3)
    assert_close(got, exp, eps=1e-12)


def test_personalized(spark):
    edges = [(0, 1), (1, 2), (2, 0), (3, 0)]
    g = make_graph(spark, edges, n=4, directed=True)
    p = spark.createDataFrame([(0, 1.0), (1, 0.0), (2, 0.0), (3, 1.0)], "id long, p double")
    got = ranks_dict(personalized_pagerank(g, p, fixed_iters=25, tol=None))
    exp = ref_pagerank(
        4, edges, personalization=[1.0, 0.0, 0.0, 1.0], fixed_iters=25
    )
    assert_close(got, exp, eps=1e-10)


def test_invalid_damping(spark):
    g = make_graph(spark, [(0, 1)], n=2)
    with pytest.raises(ValueError):
        pagerank(g, damping=1.5)  # personalized_pagerank.rs:41-45


@pytest.mark.parametrize("seed,n,density,directed", [
    (1, 8, 0.3, True), (2, 10, 0.2, False), (3, 12, 0.5, True), (4, 6, 0.7, False),
])
def test_random_corpus(spark, seed, n, density, directed):
    from reference_impl import random_graph

    rng = random.Random(seed)
    edges, weights = random_graph(rng, n, density, directed=directed)
    if not edges:
        pytest.skip("empty graph drawn")
    g = make_graph(spark, edges, n=n, directed=directed, weights=weights)
    got = ranks_dict(pagerank(g, fixed_iters=25, tol=None))
    exp = ref_pagerank(n, edges, weights, directed=directed, fixed_iters=25)
    assert_close(got, exp, eps=1e-9)
    assert abs(sum(got.values()) - 1.0) < 1e-9


# one graph with dangling vertices (3, 4; unit weights, so the shards take
# the uniform 1/degree gather) and one without (weighted w_list gather)
SUPERSTEP_GRAPHS = {
    "dangling": ([(0, 1), (1, 2), (2, 0), (2, 3), (0, 4)], None),
    "no_dangling": (
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (4, 0), (0, 4)],
        [1.0, 2.0, 3.0, 1.0, 4.0, 2.0, 5.0],
    ),
}


@pytest.mark.parametrize("stop", ["fixed_iters", "tol"])
@pytest.mark.parametrize("ckpt", [False, True], ids=["no_ckpt", "ckpt"])
@pytest.mark.parametrize("shards", ["kernel", "caller"])
@pytest.mark.parametrize("graph", sorted(SUPERSTEP_GRAPHS))
def test_superstep_matches_reference(spark, tmp_path, graph, shards, ckpt, stop):
    from graphina_spark.plans.checkpoint import CheckpointManager
    from graphina_spark.plans.shards import build_adj_shards

    edges, weights = SUPERSTEP_GRAPHS[graph]
    g = make_graph(spark, edges, n=5, directed=True, weights=weights)
    # damping 0.3 keeps the tol runs short (8-10 supersteps to 1e-6)
    kw = {"damping": 0.3}
    kw.update({"fixed_iters": 6, "tol": None} if stop == "fixed_iters"
              else {"tol": 1e-6, "max_iter": 200})
    exp = ref_pagerank(5, edges, weights, **kw)
    # the caller's shards are salted (salt_cap=2), the kernel's are not
    adj = build_adj_shards(g, salt_cap=2) if shards == "caller" else None
    if adj is not None:
        kw["shards"] = adj
    if ckpt:
        kw["checkpoint"] = CheckpointManager(str(tmp_path), "pr", {"d": 0.3})
    stats: dict = {}
    got = ranks_dict(pagerank(g, stats=stats, **kw))
    assert_close(got, exp, eps=1e-9)
    if stop == "tol":
        assert 1 < stats["iterations"] < 200 and stats["delta"] < 1e-6
    if adj is not None:
        adj.unpersist()
