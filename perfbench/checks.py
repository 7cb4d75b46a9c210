"""Reference computations the benchmark checks the program's outputs against.

Pure NumPy: nothing here imports Spark, so the checks run in the Spark
driver's Python process after the timed region and can be unit-tested on
tiny inputs (``test_checks.py``).  Every ``check_*`` returns a list of
mismatch descriptions; an empty list means the output is correct.
"""

from __future__ import annotations

import re

import numpy as np

PR_ATOL = 1e-6


# ------------------------------------------------------------------ oracles
def pagerank_power(
    n: int, src: np.ndarray, dst: np.ndarray, damping: float, iters: int,
) -> np.ndarray:
    """``iters`` power-iteration supersteps from the uniform vector, with
    uniform teleport and dangling mass spread uniformly; unit edge
    weights."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    w = 1.0 / out_deg[src]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        gather = np.bincount(dst, weights=r[src] * w, minlength=n)
        r = (1.0 - damping) / n + damping * r[dangling].sum() / n + damping * gather
    return r


def crawl_links(urls, htmls, url_prefix: str) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) page numbers of every anchor in a synthetic crawl whose
    urls are ``url_prefix`` + zero-padded page number."""
    href = re.compile(r'<a href="' + re.escape(url_prefix) + r'(\d+)"')
    src, dst = [], []
    for url, html in zip(urls, htmls):
        page = int(url[len(url_prefix):])
        for t in href.findall(html.decode("utf-8")):
            src.append(page)
            dst.append(int(t))
    return np.array(src, np.int64), np.array(dst, np.int64)


def _symmetric(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return np.concatenate([src, dst]), np.concatenate([dst, src])


def components_min_label(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Component of each vertex as its smallest member id (union-find by
    min-label propagation with pointer jumping)."""
    s, d = _symmetric(src, dst)
    label = np.arange(n)
    while True:
        new = label.copy()
        np.minimum.at(new, d, label[s])
        new = new[new]
        if np.array_equal(new, label):
            return label
        label = new


def lpa_sync(n: int, src: np.ndarray, dst: np.ndarray, iters: int) -> np.ndarray:
    """Synchronous label propagation, argmax ties by (count desc, label
    asc); vertices with no neighbours keep their label."""
    s, d = _symmetric(src, dst)
    label = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        key = d.astype(np.int64) * n + label[s]
        uk, cnt = np.unique(key, return_counts=True)
        v, lab = uk // n, uk % n
        order = np.lexsort((lab, -cnt, v))  # by vertex, count desc, label asc
        v, lab = v[order], lab[order]
        first = np.ones(len(v), dtype=bool)
        first[1:] = v[1:] != v[:-1]
        new = label.copy()
        new[v[first]] = lab[first]
        label = new
    return label


def triangles_per_node(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Triangles through each vertex of the simple undirected graph."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    e = np.unique(a[keep].astype(np.int64) * n + b[keep])
    a, b = e // n, e % n
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    fwd = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u, v = np.where(fwd, a, b), np.where(fwd, b, a)  # oriented u -> v
    order = np.argsort(u, kind="stable")
    u, v = u[order], v[order]
    start = np.searchsorted(u, np.arange(n + 1))
    # 2-paths u -> v -> w, closed when u -> w is an edge
    cnt = start[v + 1] - start[v]
    pu = np.repeat(u, cnt)
    pv = np.repeat(v, cnt)
    offs = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    pw = v[np.repeat(start[v], cnt) + offs]
    closed = np.isin(pu * n + pw, u * n + v)
    per = np.zeros(n, dtype=np.int64)
    for corner in (pu, pv, pw):
        per += np.bincount(corner[closed], minlength=n)
    return per


# ------------------------------------------------------------------- checks
def _diff_ids(what: str, got: np.ndarray, want: np.ndarray) -> list[str]:
    if got.shape != want.shape:
        return [f"{what}: {got.shape[0]} values, expected {want.shape[0]}"]
    bad = np.flatnonzero(got != want)
    if len(bad):
        i = bad[0]
        return [f"{what}: {len(bad)} wrong, first at {i}: {got[i]} != {want[i]}"]
    return []


def dense(n: int, ids: np.ndarray, values: np.ndarray, what: str) -> tuple[np.ndarray, list[str]]:
    """Scatter an (id, value) result into an array indexed by id; every id
    in [0, n) must appear exactly once."""
    if len(ids) != n or not np.array_equal(np.sort(ids), np.arange(n)):
        return np.zeros(n, dtype=values.dtype), [f"{what}: ids are not exactly 0..{n - 1}"]
    out = np.empty(n, dtype=values.dtype)
    out[ids] = values
    return out, []


def check_close(what: str, got: np.ndarray, want: np.ndarray, atol: float = PR_ATOL) -> list[str]:
    if got.shape != want.shape:
        return [f"{what}: {got.shape[0]} values, expected {want.shape[0]}"]
    err = np.abs(got - want)
    if not np.all(err <= atol):
        i = int(np.argmax(err))
        return [f"{what}: max abs error {err[i]:.3g} at {i} exceeds {atol}"]
    return []


def check_exact(what: str, got: np.ndarray, want: np.ndarray) -> list[str]:
    return _diff_ids(what, np.asarray(got), np.asarray(want))


def check_edge_set(what: str, got_src, got_dst, want_src, want_dst, n: int) -> list[str]:
    """Edge multisets equal (order-free)."""
    g = np.sort(np.asarray(got_src, np.int64) * n + np.asarray(got_dst, np.int64))
    w = np.sort(np.asarray(want_src, np.int64) * n + np.asarray(want_dst, np.int64))
    return _diff_ids(what, g, w)


def check_texts(got: dict, want: dict) -> list[str]:
    """Per-url byte identity of extracted text."""
    if got.keys() != want.keys():
        return [f"extract_text: {len(got.keys() ^ want.keys())} urls differ"]
    bad = [u for u in want if got[u] != want[u]]
    return [f"extract_text: {len(bad)} urls differ, first {bad[0]}"] if bad else []
