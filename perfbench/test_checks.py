"""The output checks catch a corrupted output.

    python3 -m pytest perfbench/test_checks.py

Each test builds a tiny input, confirms the check passes on the correct
output, then corrupts one value and asserts the check reports it.
"""

from __future__ import annotations

import numpy as np

import checks

# two triangles joined by an edge, one isolated vertex, and a pendant
N = 8
SRC = np.array([0, 1, 2, 3, 4, 5, 2, 5])
DST = np.array([1, 2, 0, 4, 5, 3, 3, 6])


def test_pagerank_check_catches_one_wrong_rank():
    ranks = checks.pagerank_power(N, SRC, DST, 0.85, 30)
    assert abs(ranks.sum() - 1) < 1e-9
    assert checks.check_close("pr", ranks.copy(), ranks) == []
    bad = ranks.copy()
    bad[3] += 2e-6
    assert checks.check_close("pr", bad, ranks)


def test_pagerank_oracle_matches_loop_reference():
    out = {u: 0 for u in range(N)}
    for u in SRC:
        out[u] += 1
    r = [1 / N] * N
    for _ in range(200):
        dang = sum(r[u] for u in range(N) if out[u] == 0)
        new = [0.15 / N + 0.85 * dang / N] * N
        for u, v in zip(SRC, DST):
            new[v] += 0.85 * r[u] / out[u]
        r = new
    ranks = checks.pagerank_power(N, SRC, DST, 0.85, 200)
    assert np.allclose(ranks, r, atol=1e-12)


def test_components_check_catches_one_wrong_label():
    want = checks.components_min_label(N, SRC, DST)
    assert want.tolist() == [0, 0, 0, 0, 0, 0, 0, 7]
    bad = want.copy()
    bad[7] = 0
    assert checks.check_exact("cc", bad, want)


def test_lpa_ties_go_to_smallest_label():
    # a path 0-1-2: vertex 1 sees labels {0, 2} once each -> 0
    got = checks.lpa_sync(3, np.array([0, 1]), np.array([1, 2]), 1)
    assert got.tolist() == [1, 0, 1]
    bad = got.copy()
    bad[1] = 2
    assert checks.check_exact("lpa", bad, got)


def test_triangles_check_catches_one_wrong_count():
    want = checks.triangles_per_node(N, SRC, DST)
    assert want.tolist() == [1, 1, 1, 1, 1, 1, 0, 0]
    bad = want.copy()
    bad[6] = 1
    assert checks.check_exact("tri", bad, want)


def test_edge_set_and_dense_ids():
    assert checks.check_edge_set("e", SRC[::-1], DST[::-1], SRC, DST, N) == []
    assert checks.check_edge_set("e", SRC[:-1], DST[:-1], SRC, DST, N)
    dst = DST.copy()
    dst[0] = 7
    assert checks.check_edge_set("e", SRC, dst, SRC, DST, N)
    _, bad = checks.dense(3, np.array([0, 1, 1]), np.array([1.0, 2.0, 3.0]), "x")
    assert bad


def test_crawl_links_and_texts():
    prefix = "https://ex.com/p"
    html = [b'<a href="https://ex.com/p00000002">x</a><a href="https://ex.com/p00000001">y</a>', b""]
    src, dst = checks.crawl_links([prefix + "00000000", prefix + "00000001"], html, prefix)
    assert src.tolist() == [0, 0] and dst.tolist() == [2, 1]
    want = {"a": "one two", "b": ""}
    assert checks.check_texts(dict(want), want) == []
    assert checks.check_texts({"a": "one  two", "b": ""}, want)
    assert checks.check_texts({"a": "one two"}, want)
