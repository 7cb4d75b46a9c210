"""Connected components vs reference semantics (sorted-partition equality via
canonical min-id labels; connected_components.rs:219-230)."""

import random

import pytest

from conftest import make_graph
from reference_impl import random_graph, ref_components

from graphina_spark.operators.components import (
    connected_components,
    count_components,
    weakly_connected_components,
)


def labels_dict(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_two_pairs(spark):
    # 0–1, 2–3 → 2 components (connected_components.rs:147-159)
    g = make_graph(spark, [(0, 1), (2, 3)], n=4, directed=False)
    got = labels_dict(connected_components(g))
    assert got == {0: 0, 1: 0, 2: 2, 3: 2}


def test_directed_path_plus_iso(spark):
    # 0→1→2, {3}: WCC {{0,1,2},{3}} (connected_components.rs:232-250)
    g = make_graph(spark, [(0, 1), (1, 2)], n=4, directed=True)
    got = labels_dict(weakly_connected_components(g))
    assert got == {0: 0, 1: 0, 2: 0, 3: 3}


def test_long_path_converges(spark):
    # path of 40 nodes: stresses the path-compression rounds
    edges = [(i, i + 1) for i in range(39)]
    g = make_graph(spark, edges, n=40, directed=False)
    got = labels_dict(connected_components(g, max_iter=30))
    assert set(got.values()) == {0}


def test_path_pair_and_isolated(spark):
    edges = [(0, 1), (1, 2), (4, 5)]
    g = make_graph(spark, edges, n=6, directed=False)
    got = labels_dict(connected_components(g))
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}


def test_count_components(spark):
    g = make_graph(spark, [(0, 1), (2, 3)], n=5, directed=False)
    assert count_components(g) == 3


@pytest.mark.parametrize("seed,n,density", [(11, 10, 0.1), (12, 12, 0.2), (13, 8, 0.35)])
def test_random_corpus(spark, seed, n, density):
    rng = random.Random(seed)
    edges, _ = random_graph(rng, n, density)
    g = make_graph(spark, edges, n=n, directed=False)
    got = labels_dict(connected_components(g))
    _, exp = ref_components(n, edges)
    assert got == {i: exp[i] for i in range(n)}
