"""DuckDB oracle SQL builders for the driver's correctness gate.

Each function returns ANSI SQL (DuckDB dialect) computing the same result as
the matching Spark operator over the same parquet tables.  Iterative kernels
are expressed as *unrolled fixed-iteration* CTE chains — the Spark side runs
the engine with ``fixed_iters`` matching, so both sides follow the identical
trajectory and only float summation order differs (absorbed by round(..., 6)).

The edge derivations (WEB_EDGES_CTE / BLOCK_EDGES_CTE) are the same modular
arithmetic the Spark side computes in graphina_spark/sources/derived.py.
"""

from __future__ import annotations

from graphina_spark.sources.derived import (
    BLOCK_EDGES_CTE,
    PAGES_EDGES_CTE,
    PAGES_TEXT_CTE,
    WEB_EDGES_CTE,
)

PR_ITERS = 5
PR_DAMPING = 0.85
ROUND = 6


def pagerank_web_sql(
    iters: int = PR_ITERS, d: float = PR_DAMPING, edges_cte: str = WEB_EDGES_CTE
) -> str:
    """Unrolled weighted PageRank with dangling-mass redistribution
    (reference semantics, src/centrality/pagerank.rs:92-128).  Each round's
    rank CTE is MATERIALIZED: the next round reads it twice (d and g), and
    DuckDB inlines plain CTEs, so the plan would double every round."""
    ctes = [
        edges_cte.strip(),
        "verts AS (SELECT id FROM v)",
        "nn2 AS (SELECT count(*) AS n FROM verts)",
        "wout AS (SELECT src AS id, sum(weight) AS w_out FROM edges GROUP BY src)",
        "en AS (SELECT e.src, e.dst, e.weight / w.w_out AS w_norm"
        " FROM edges e JOIN wout w ON e.src = w.id)",
        "r0 AS (SELECT id, 1.0 / n AS pr FROM verts, nn2)",
    ]
    for k in range(1, iters + 1):
        p, c = f"r{k - 1}", f"r{k}"
        ctes.append(
            f"d{k} AS (SELECT coalesce(sum(r.pr), 0.0) AS dang FROM {p} r"
            f" LEFT JOIN wout w ON r.id = w.id WHERE w.id IS NULL)"
        )
        ctes.append(
            f"g{k} AS (SELECT en.dst AS id, sum(r.pr * en.w_norm) AS gather"
            f" FROM {p} r JOIN en ON r.id = en.src GROUP BY en.dst)"
        )
        ctes.append(
            f"{c} AS MATERIALIZED (SELECT vv.id,"
            f" {1.0 - d} / nn2.n + {d} * d{k}.dang / nn2.n"
            f" + {d} * coalesce(g{k}.gather, 0.0) AS pr"
            f" FROM verts vv LEFT JOIN g{k} ON vv.id = g{k}.id, nn2, d{k})"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(pr, {ROUND}) AS pr FROM r{iters}"
    )


def pagerank_uniform_web_sql(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """Twin of the pagerank_uniform_web gate: the standard unrolled kernel
    over the web edge set with every weight forced to 1.0 — certifies the
    uniform shards' computed-1/degree gather.  PAGES_EDGES_CTE is the
    pre-built unit-weight twin of WEB_EDGES_CTE (same topology, weight
    forced to 1.0) — no string surgery needed."""
    from graphina_spark.sources.derived import PAGES_EDGES_CTE

    return pagerank_web_sql(iters=iters, d=d, edges_cte=PAGES_EDGES_CTE)


def incremental_pagerank_web_sql(
    folds: int = 3, iters: int = 3, d: float = PR_DAMPING
) -> str:
    """Twin of streaming/graphkernels.py::advance_pagerank folded over
    deterministic micro-batches (batch b appends edges with
    (src+dst)%folds == b): per fold the vertex set is the accumulated edge
    store's endpoints, the start vector warm-starts from the previous
    fold's final ranks (unseen vertices 1/n_b) and is L1-normalized
    (operators/pagerank.py nstart contract), then ``iters`` fixed
    supersteps of the standard dangling-redistribution kernel run.
    Per-round CTEs are MATERIALIZED — d/g reference the previous rank
    frame twice, and plain CTE inlining across folds*iters rounds goes
    exponential in DuckDB."""
    ctes = [WEB_EDGES_CTE.strip()]
    prev = None
    for b in range(folds):
        eb = f"fe{b}"  # "e0" would collide with WEB_EDGES_CTE's own e0
        ctes.append(
            f"{eb} AS MATERIALIZED (SELECT src, dst, weight FROM edges"
            f" WHERE (src + dst) % {folds} <= {b})"
        )
        ctes.append(
            f"v{b} AS MATERIALIZED (SELECT DISTINCT id FROM"
            f" (SELECT src AS id FROM {eb} UNION SELECT dst FROM {eb}))"
        )
        ctes.append(f"n{b} AS (SELECT count(*) AS n FROM v{b})")
        ctes.append(
            f"wout{b} AS MATERIALIZED (SELECT src AS id, sum(weight) AS w_out"
            f" FROM {eb} GROUP BY src)"
        )
        ctes.append(
            f"en{b} AS MATERIALIZED (SELECT e.src, e.dst,"
            f" e.weight / w.w_out AS w_norm"
            f" FROM {eb} e JOIN wout{b} w ON e.src = w.id)"
        )
        if prev is None:
            ctes.append(
                f"s{b} AS MATERIALIZED (SELECT id, 1.0 / n AS pr FROM v{b}, n{b})"
            )
        else:
            ctes.append(
                f"raw{b} AS MATERIALIZED (SELECT vv.id,"
                f" coalesce(p.pr, 1.0 / n{b}.n) AS pr"
                f" FROM v{b} vv LEFT JOIN {prev} p ON vv.id = p.id, n{b})"
            )
            ctes.append(f"ss{b} AS (SELECT sum(pr) AS s FROM raw{b})")
            ctes.append(
                f"s{b} AS MATERIALIZED (SELECT id, pr / s AS pr FROM raw{b}, ss{b})"
            )
        cur = f"s{b}"
        for k in range(1, iters + 1):
            ctes.append(
                f"d{b}_{k} AS (SELECT coalesce(sum(r.pr), 0.0) AS dang"
                f" FROM {cur} r LEFT JOIN wout{b} w ON r.id = w.id"
                f" WHERE w.id IS NULL)"
            )
            ctes.append(
                f"g{b}_{k} AS (SELECT en.dst AS id, sum(r.pr * en.w_norm) AS gather"
                f" FROM {cur} r JOIN en{b} en ON r.id = en.src GROUP BY en.dst)"
            )
            ctes.append(
                f"r{b}_{k} AS MATERIALIZED (SELECT vv.id,"
                f" {1.0 - d} / n{b}.n + {d} * d{b}_{k}.dang / n{b}.n"
                f" + {d} * coalesce(g{b}_{k}.gather, 0.0) AS pr"
                f" FROM v{b} vv LEFT JOIN g{b}_{k} ON vv.id = g{b}_{k}.id,"
                f" n{b}, d{b}_{k})"
            )
            cur = f"r{b}_{k}"
        prev = cur
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(pr, {ROUND}) AS pr FROM {prev}"
    )


def personalized_pagerank_web_sql(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """Unrolled personalized PageRank: teleport AND dangling mass follow the
    normalized personalization vector p (p_i ∝ [id % 10 == 0]) — reference
    semantics personalized_pagerank.rs:98-107.  Per-round rank CTEs are
    MATERIALIZED, as in pagerank_web_sql."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        "verts AS (SELECT id FROM v)",
        "ps AS (SELECT count(*) AS np FROM verts WHERE id % 10 = 0)",
        "pvec AS (SELECT id, CASE WHEN id % 10 = 0 THEN 1.0 / np ELSE 0.0 END AS p"
        " FROM verts, ps)",
        "nn2 AS (SELECT count(*) AS n FROM verts)",
        "wout AS (SELECT src AS id, sum(weight) AS w_out FROM edges GROUP BY src)",
        "en AS (SELECT e.src, e.dst, e.weight / w.w_out AS w_norm"
        " FROM edges e JOIN wout w ON e.src = w.id)",
        "r0 AS (SELECT id, 1.0 / n AS pr FROM verts, nn2)",
    ]
    for k in range(1, iters + 1):
        p, c = f"r{k - 1}", f"r{k}"
        ctes.append(
            f"d{k} AS (SELECT coalesce(sum(r.pr), 0.0) AS dang FROM {p} r"
            f" LEFT JOIN wout w ON r.id = w.id WHERE w.id IS NULL)"
        )
        ctes.append(
            f"g{k} AS (SELECT en.dst AS id, sum(r.pr * en.w_norm) AS gather"
            f" FROM {p} r JOIN en ON r.id = en.src GROUP BY en.dst)"
        )
        ctes.append(
            f"{c} AS MATERIALIZED (SELECT pv.id,"
            f" {1.0 - d} * pv.p + {d} * d{k}.dang * pv.p"
            f" + {d} * coalesce(g{k}.gather, 0.0) AS pr"
            f" FROM pvec pv LEFT JOIN g{k} ON pv.id = g{k}.id, d{k})"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(pr, {ROUND}) AS pr FROM r{iters}"
    )


def khop_web_sql(k: int = 2, src_mod: int = 97) -> str:
    """Min-hop distances within ≤k hops of the sources {id % src_mod == 0}
    (multi-source BFS, subgraphs/operations.rs:305-356 generalized)."""
    assert k == 2, "oracle written for k=2"
    return f"""WITH {WEB_EDGES_CTE.strip()},
 adj AS (SELECT DISTINCT src, dst FROM edges),
 s0 AS (SELECT id FROM v WHERE id % {src_mod} = 0),
 h1 AS (SELECT DISTINCT a.dst AS id FROM adj a JOIN s0 ON a.src = s0.id),
 h2 AS (SELECT DISTINCT b.dst AS id FROM adj b JOIN h1 ON b.src = h1.id),
 allr AS (
   SELECT id, 0 AS hops FROM s0
   UNION ALL SELECT id, 1 FROM h1
   UNION ALL SELECT id, 2 FROM h2)
SELECT id, CAST(min(hops) AS INT) AS hops FROM allr GROUP BY id"""


def induced_sub_web_sql(below: int = 200) -> str:
    """Edges of the induced subgraph on ids < below
    (subgraphs/operations.rs:138-141)."""
    return (
        f"WITH {WEB_EDGES_CTE.strip()}\n"
        f"SELECT src, dst FROM edges WHERE src < {below} AND dst < {below}"
    )


def pagerank_pages_sql(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """PageRank over the edge set recovered by html link parsing (weight 1.0);
    the Spark side derives its edges exclusively from the html bytes."""
    return pagerank_web_sql(iters=iters, d=d, edges_cte=PAGES_EDGES_CTE)


def page_links_sql() -> str:
    """The (src, dst) edge set the Arrow link-parsing UDF must recover from
    the generated pages' html."""
    return f"WITH {PAGES_EDGES_CTE.strip()}\nSELECT src, dst FROM edges"


def page_text_sql() -> str:
    """The frozen text extraction's exact output per url — byte-identical
    invariant under the oracle gate."""
    return f"WITH {PAGES_TEXT_CTE.strip()}\nSELECT url, text FROM page_text"


def components_block_sql() -> str:
    """Min-id component labels via recursive-CTE transitive closure on the
    block graph — the oracle twin of hash-min label exchange (components are
    compared as canonical min-member labels on both sides, matching the
    reference's sorted-partition comparison, connected_components.rs:219-230)."""
    return f"""WITH RECURSIVE {BLOCK_EDGES_CTE.strip()},
 sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
 reach(id, r) AS (
   SELECT id, id AS r FROM v
   UNION
   SELECT s.dst AS id, reach.r FROM reach JOIN sym s ON reach.id = s.src
 )
SELECT id, min(r) AS component FROM reach GROUP BY id"""


def wcc_web_sql() -> str:
    """Weakly connected components of the directed web graph
    (connected_components.rs:83-117)."""
    return f"""WITH RECURSIVE {WEB_EDGES_CTE.strip()},
 sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
 reach(id, r) AS (
   SELECT id, id AS r FROM v
   UNION
   SELECT s.dst AS id, reach.r FROM reach JOIN sym s ON reach.id = s.src
 )
SELECT id, min(r) AS component FROM reach GROUP BY id"""


LPA_ITERS = 4


def lpa_block_sql(iters: int = LPA_ITERS) -> str:
    """Unrolled synchronous LPA with (count desc, label asc) tie-break on the
    block graph — matches label_propagation(fixed_iters=iters)."""
    ctes = [
        BLOCK_EDGES_CTE.strip(),
        "sym AS (SELECT src, dst FROM edges UNION ALL"
        " SELECT dst AS src, src AS dst FROM edges)",
        "l0 AS (SELECT id, id AS label FROM v)",
    ]
    for k in range(1, iters + 1):
        p = f"l{k - 1}"
        ctes.append(
            f"""l{k} AS (
  SELECT l.id, coalesce(b.new_label, l.label) AS label
  FROM {p} l LEFT JOIN (
    SELECT id, label AS new_label FROM (
      SELECT e.dst AS id, l2.label, count(*) AS cnt,
             row_number() OVER (PARTITION BY e.dst
                                ORDER BY count(*) DESC, l2.label ASC) AS rn
      FROM sym e JOIN {p} l2 ON e.src = l2.id
      GROUP BY e.dst, l2.label
    ) t WHERE rn = 1
  ) b ON l.id = b.id
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label FROM l{iters}"


# shared triangle fragments (web graph as a simple undirected graph)
_TRI_CTES = """
 canon AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
           FROM edges WHERE src <> dst),
 cdeg AS (SELECT id, count(*) AS deg FROM
            (SELECT src AS id FROM canon UNION ALL SELECT dst AS id FROM canon) u
          GROUP BY id),
 edir AS (
   SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.src < c.dst)
               THEN c.src ELSE c.dst END AS s,
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.src < c.dst)
               THEN c.dst ELSE c.src END AS d
   FROM canon c JOIN cdeg da ON c.src = da.id JOIN cdeg db ON c.dst = db.id),
 tris AS (
   SELECT e1.s AS a, e1.d AS b, e2.d AS c
   FROM edir e1 JOIN edir e2 ON e1.d = e2.s
   JOIN edir e3 ON e3.s = e1.s AND e3.d = e2.d),
 percnt AS (
   SELECT id, count(*) AS t FROM (
     SELECT a AS id FROM tris UNION ALL SELECT b AS id FROM tris
     UNION ALL SELECT c AS id FROM tris) u
   GROUP BY id)"""


def triangles_web_sql() -> str:
    return f"""WITH {WEB_EDGES_CTE.strip()},{_TRI_CTES}
SELECT vv.id, CAST(coalesce(p.t, 0) AS BIGINT) AS triangles
FROM v vv LEFT JOIN percnt p ON vv.id = p.id"""


def clustering_web_sql() -> str:
    return f"""WITH {WEB_EDGES_CTE.strip()},{_TRI_CTES}
SELECT vv.id,
       round(CASE WHEN coalesce(d.deg, 0) >= 2
                  THEN coalesce(p.t, 0) / (d.deg * (d.deg - 1) / 2.0)
                  ELSE 0.0 END, {ROUND}) AS clustering
FROM v vv LEFT JOIN cdeg d ON vv.id = d.id LEFT JOIN percnt p ON vv.id = p.id"""


def ck_curve_web_sql() -> str:
    """C(k) curve — mirror of operators/triangles.py::clustering_by_degree:
    mean local clustering per simple-undirected degree k >= 2."""
    return f"""WITH {WEB_EDGES_CTE.strip()},{_TRI_CTES}
SELECT deg AS degree, CAST(count(*) AS BIGINT) AS n_nodes,
       round(avg(coalesce(p.t, 0) / (d.deg * (d.deg - 1) / 2.0)), {ROUND})
         AS avg_cc
FROM cdeg d LEFT JOIN percnt p ON d.id = p.id
WHERE d.deg >= 2 GROUP BY deg"""


def transitivity_web_sql() -> str:
    return f"""WITH {WEB_EDGES_CTE.strip()},{_TRI_CTES}
SELECT round(3.0 * (SELECT count(*) FROM tris)
             / (SELECT sum(deg * (deg - 1) / 2.0) FROM cdeg), {ROUND}) AS transitivity"""


def eigenvector_web_sql(iters: int = 5) -> str:
    """Unrolled directed eigenvector power iteration (shift 0, contributions
    flow src→dst with weights, L2 normalize per step, final |x|·n/Σ|x| —
    eigenvector.rs:30-162)."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        "verts AS (SELECT id FROM v)",
        "nn2 AS (SELECT count(*) AS n FROM verts)",
        "x0 AS (SELECT id, 1.0 / sqrt(n) AS x FROM verts, nn2)",
    ]
    for k in range(1, iters + 1):
        p, c = f"x{k - 1}", f"x{k}"
        ctes.append(
            f"y{k} AS (SELECT vv.id, coalesce(g.s, 0.0) AS y FROM verts vv"
            f" LEFT JOIN (SELECT e.dst AS id, sum(x.x * e.weight) AS s"
            f" FROM {p} x JOIN edges e ON x.id = e.src GROUP BY e.dst) g"
            f" ON vv.id = g.id)"
        )
        ctes.append(f"n{k} AS (SELECT sqrt(sum(y * y)) AS nrm FROM y{k})")
        ctes.append(f"{c} AS (SELECT id, y / nrm AS x FROM y{k}, n{k})")
    ctes.append(f"s AS (SELECT sum(abs(x)) AS tot FROM x{iters}")
    ctes[-1] += ")"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT x.id, round(abs(x.x) * nn2.n / s.tot, {ROUND}) AS eigenvector"
        f" FROM x{iters} x, nn2, s"
    )


KATZ_ALPHA = 1.0 / 30.0  # non-terminating decimal: with integer edge weights
# a terminating α (e.g. 0.05) puts Katz values exactly on decimal rounding
# half-boundaries, where the two engines' round() disagree


def katz_web_sql(iters: int = 5, alpha: float = KATZ_ALPHA) -> str:
    """Unrolled Katz: x'[u] = 1 + α Σ_{u→v} w·x[v] (reversed gather,
    katz.rs:82-84), init 0."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        "verts AS (SELECT id FROM v)",
        "x0 AS (SELECT id, 0.0 AS x FROM verts)",
    ]
    for k in range(1, iters + 1):
        p, c = f"x{k - 1}", f"x{k}"
        ctes.append(
            f"{c} AS (SELECT vv.id, 1.0 + {alpha!r} * coalesce(g.s, 0.0) AS x"
            f" FROM verts vv LEFT JOIN (SELECT e.src AS id, sum(x.x * e.weight) AS s"
            f" FROM {p} x JOIN edges e ON x.id = e.dst GROUP BY e.src) g"
            f" ON vv.id = g.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(x, {ROUND}) AS katz FROM x{iters}"
    )


def laplacian_web_sql() -> str:
    """d² + d + 2·Σ neighbor degrees over the simple undirected structure
    (other.rs:175-201)."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 canon AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d
           FROM edges WHERE src <> dst),
 adj AS (SELECT s AS src, d AS dst FROM canon
         UNION ALL SELECT d AS src, s AS dst FROM canon),
 deg AS (SELECT src AS id, count(*) AS d FROM adj GROUP BY src),
 nsum AS (SELECT a.src AS id, sum(dd.d) AS nds
          FROM adj a JOIN deg dd ON a.dst = dd.id GROUP BY a.src)
SELECT vv.id,
       CAST(coalesce(deg.d, 0) * coalesce(deg.d, 0) + coalesce(deg.d, 0)
            + 2.0 * coalesce(nsum.nds, 0) AS DOUBLE) AS laplacian
FROM v vv LEFT JOIN deg ON vv.id = deg.id LEFT JOIN nsum ON vv.id = nsum.id"""


# link-prediction family: one wedge-join CTE shared by every measure
# (mirrors operators/links.py::_pair_stats, including the middle-degree
# hub cap — no-op at gate scale, active path at web scale)
_LINKS_CTES = """
 canon AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d
           FROM edges WHERE src <> dst),
 adj AS (SELECT s AS src, d AS dst FROM canon
         UNION ALL SELECT d AS src, s AS dst FROM canon),
 nsz AS (SELECT src AS id, count(*) AS nsz FROM adj GROUP BY src),
 adjm AS (SELECT a.src, a.dst FROM adj a
          JOIN nsz nm ON a.src = nm.id WHERE nm.nsz <= {max_middle_degree}),
 wedge AS (SELECT a.dst AS u, b.dst AS v, a.src AS w
           FROM adjm a JOIN adjm b ON a.src = b.src WHERE a.dst < b.dst),
 stats AS (
   SELECT u, v, count(*) AS cn,
          coalesce(sum(CASE WHEN n.nsz > 1 THEN 1.0 / ln(n.nsz) END), 0.0) AS aa,
          coalesce(sum(CASE WHEN n.nsz > 0 THEN 1.0 / n.nsz END), 0.0) AS ra,
          sum(CASE WHEN u % 7 = w % 7 AND v % 7 = w % 7 THEN 1 ELSE 0 END) AS cn_sh,
          sum(CASE WHEN u % 7 = w % 7 AND v % 7 = w % 7 AND n.nsz > 0
                   THEN 1.0 / n.nsz ELSE 0.0 END) AS ra_sh
   FROM wedge JOIN nsz n ON wedge.w = n.id GROUP BY u, v)"""

_LINKS_SELECTS = {
    "cn": "SELECT u, v, cn FROM stats",
    "jaccard": """SELECT s.u, s.v,
       round(CASE WHEN du.nsz + dv.nsz - s.cn > 0
                  THEN s.cn / CAST(du.nsz + dv.nsz - s.cn AS DOUBLE)
                  ELSE 0.0 END, {r}) AS jaccard
     FROM stats s JOIN nsz du ON s.u = du.id JOIN nsz dv ON s.v = dv.id""",
    "aa": "SELECT u, v, round(aa, {r}) AS aa FROM stats",
    "ra": "SELECT u, v, round(ra, {r}) AS ra FROM stats",
    "pa": """SELECT s.u, s.v, CAST(du.nsz * dv.nsz AS DOUBLE) AS pa
     FROM stats s JOIN nsz du ON s.u = du.id JOIN nsz dv ON s.v = dv.id""",
    "cn_sh": "SELECT u, v, CAST(cn_sh AS DOUBLE) AS cn_sh FROM stats",
    "ra_sh": "SELECT u, v, round(ra_sh, {r}) AS ra_sh FROM stats",
    "wic": "SELECT u, v, round((cn_sh + 0.001) / (cn - cn_sh + 0.001), {r})"
    " AS wic FROM stats",
    "ccpa": "SELECT u, v, round(pow(CAST(cn AS DOUBLE), 0.8), {r}) AS ccpa FROM stats",
}


def links_web_sql(measure: str, max_middle_degree: int | None = None) -> str:
    if max_middle_degree is None:
        from graphina_spark.operators.links import DEFAULT_MAX_MIDDLE_DEGREE

        max_middle_degree = DEFAULT_MAX_MIDDLE_DEGREE
    sel = _LINKS_SELECTS[measure].format(r=ROUND)
    ctes = _LINKS_CTES.format(max_middle_degree=max_middle_degree)
    return f"WITH {WEB_EDGES_CTE.strip()},{ctes}\n{sel}"


def squares_web_sql(max_middle_degree: int | None = None) -> str:
    """#4-cycles via the diagonal census Σ C(cn,2)/2 over the hub-capped
    wedge kernel — mirror of operators/metrics.py::square_count (integer
    arithmetic end to end)."""
    if max_middle_degree is None:
        from graphina_spark.operators.links import DEFAULT_MAX_MIDDLE_DEGREE

        max_middle_degree = DEFAULT_MAX_MIDDLE_DEGREE
    ctes = _LINKS_CTES.format(max_middle_degree=max_middle_degree)
    return f"""WITH {WEB_EDGES_CTE.strip()},{ctes}
SELECT CAST(coalesce(sum(cn * (cn - 1) // 2), 0) // 2 AS BIGINT) AS squares
FROM stats"""


def assortativity_web_sql() -> str:
    """Newman symmetric degree assortativity over the directed web graph
    (deg = in+out), graph_metrics.rs:264-306."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 outd AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
 ind AS (SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst),
 deg AS (SELECT vv.id,
                CAST(coalesce(o.c, 0) + coalesce(i.c, 0) AS DOUBLE) AS d
         FROM v vv LEFT JOIN outd o ON vv.id = o.id LEFT JOIN ind i ON vv.id = i.id),
 jk AS (SELECT dj.d AS j, dk.d AS k FROM edges e
        JOIN deg dj ON e.src = dj.id JOIN deg dk ON e.dst = dk.id),
 s AS (SELECT count(*) AS e, sum(2.0*j*k) AS sjk, sum(j+k) AS sj,
              sum(j*j + k*k) AS sj2 FROM jk)
SELECT round((sjk/(2.0*e) - (sj/(2.0*e))*(sj/(2.0*e)))
             / (sj2/(2.0*e) - (sj/(2.0*e))*(sj/(2.0*e))), {ROUND}) AS assortativity
FROM s"""


def avg_clustering_web_sql() -> str:
    return f"""WITH {WEB_EDGES_CTE.strip()},{_TRI_CTES}
SELECT round(avg(CASE WHEN coalesce(d.deg, 0) >= 2
                 THEN coalesce(p.t, 0) / (d.deg * (d.deg - 1) / 2.0)
                 ELSE 0.0 END), {ROUND}) AS avg_clustering
FROM v vv LEFT JOIN cdeg d ON vv.id = d.id LEFT JOIN percnt p ON vv.id = p.id"""


def density_web_sql() -> str:
    return f"""WITH {WEB_EDGES_CTE.strip()}
SELECT round((SELECT count(*) FROM edges)
             / CAST((SELECT count(*) FROM v) * ((SELECT count(*) FROM v) - 1)
               AS DOUBLE), {ROUND}) AS density"""


def reaching2_web_sql() -> str:
    """|ball(v, 2)| on the directed web graph (other.rs:24-54, distance=2)."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 adj AS (SELECT DISTINCT src, dst FROM edges),
 r AS (
   SELECT id AS source, id FROM v
   UNION
   SELECT a.src AS source, a.dst AS id FROM adj a
   UNION
   SELECT a.src AS source, b.dst AS id FROM adj a JOIN adj b ON a.dst = b.src
 )
SELECT source AS id, CAST(count(*) AS DOUBLE) AS reaching FROM r GROUP BY source"""


def infomap_web_sql(iters: int = 3) -> str:
    """Unrolled synchronous flow-greedy module assignment (infomap.rs:33-106
    semantics, deterministic (flow desc, module asc) tie-break; both
    endpoints accumulate regardless of directedness, :60-67)."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        "sym AS (SELECT src, dst, weight FROM edges UNION ALL"
        " SELECT dst AS src, src AS dst, weight FROM edges)",
        "m0 AS (SELECT id, id AS module FROM v)",
    ]
    for k in range(1, iters + 1):
        p = f"m{k - 1}"
        ctes.append(
            f"""m{k} AS (
  SELECT l.id, coalesce(b.nm, l.module) AS module
  FROM {p} l LEFT JOIN (
    SELECT id, module AS nm FROM (
      SELECT e.src AS id, l2.module, sum(e.weight) AS flow,
             row_number() OVER (PARTITION BY e.src
                                ORDER BY sum(e.weight) DESC, l2.module ASC) AS rn
      FROM sym e JOIN {p} l2 ON e.dst = l2.id
      GROUP BY e.src, l2.module
    ) t WHERE rn = 1
  ) b ON l.id = b.id
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, module FROM m{iters}"


def modularity_block_sql() -> str:
    """Newman modularity of the natural block partition (community =
    id div 100) on the block graph — mirrors operators/metrics.py::modularity
    (the quality functional the reference's community oracle pins)."""
    return f"""WITH {BLOCK_EDGES_CTE.strip()},
 sym AS (SELECT src, dst, weight FROM edges
         UNION ALL SELECT dst, src, weight FROM edges),
 com AS (SELECT id, id // 100 AS community FROM v),
 m2 AS (SELECT sum(weight) AS m2 FROM sym),
 w_in AS (SELECT sum(s.weight) AS w_in FROM sym s
          JOIN com a ON s.src = a.id JOIN com b ON s.dst = b.id
          WHERE a.community = b.community),
 tot AS (SELECT sum(pow(t.tot / m2.m2, 2)) AS t2 FROM (
           SELECT c.community, sum(d.dw) AS tot FROM
             (SELECT src AS id, sum(weight) AS dw FROM sym GROUP BY src) d
           JOIN com c ON d.id = c.id GROUP BY c.community) t, m2)
SELECT round(coalesce(w_in.w_in, 0) / m2.m2 - tot.t2, {ROUND}) AS modularity
FROM w_in, m2, tot"""


def voterank_web_sql(num_seeds: int = 10) -> str:
    """Unrolled VoteRank on the directed web graph (other.rs:82-164): K
    elections, each a score-sum + argmax + ability decay stage.  Mirrors
    operators/centrality.py::voterank exactly: score(v) = Σ ability of its
    in-voters; elected = argmax (ties → lowest id); elected ability → 0;
    the elected node's OUT-neighbors lose 1/avg_in_degree, floored at 0.
    Elections with best score ≤ 0 are filtered out (the Spark side stops
    there; at gate scale all K elections are positive)."""
    # every stage CTE is MATERIALIZED: DuckDB inlines plain CTEs, and the
    # K-deep chain referencing its predecessor 3x would inline 3^K copies of
    # the base parquet scan (observed: fd exhaustion at K=10)
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        # avg in-degree over ALL vertices = E / n (zero-in-degree vertices
        # count in the denominator), decay = its reciprocal
        "dec AS MATERIALIZED (SELECT CASE WHEN e.cnt > 0 THEN CAST(vv.n AS DOUBLE) / e.cnt"
        " ELSE 0.0 END AS decay"
        " FROM (SELECT count(*) AS cnt FROM edges) e,"
        " (SELECT count(*) AS n FROM v) vv)",
        "a0 AS MATERIALIZED (SELECT id, 1.0 AS ability, FALSE AS selected FROM v)",
    ]
    for k in range(1, num_seeds + 1):
        p = f"a{k - 1}"
        ctes.append(
            f"sc{k} AS MATERIALIZED (SELECT e.dst AS id, sum(a.ability) AS score"
            f" FROM edges e JOIN {p} a ON e.src = a.id GROUP BY e.dst)"
        )
        ctes.append(
            f"b{k} AS MATERIALIZED (SELECT a.id AS bid, coalesce(s.score, 0.0) AS score"
            f" FROM {p} a LEFT JOIN sc{k} s ON a.id = s.id"
            f" WHERE NOT a.selected"
            f" ORDER BY coalesce(s.score, 0.0) DESC, a.id ASC LIMIT 1)"
        )
        ctes.append(
            f"nb{k} AS MATERIALIZED (SELECT DISTINCT e.dst FROM edges e, b{k}"
            f" WHERE e.src = b{k}.bid)"
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT a.id,"
            f" CASE WHEN a.id = b.bid THEN 0.0"
            f"      WHEN n.dst IS NOT NULL"
            f"      THEN greatest(a.ability - dec.decay, 0.0)"
            f"      ELSE a.ability END AS ability,"
            f" (a.selected OR a.id = b.bid) AS selected"
            f" FROM {p} a CROSS JOIN b{k} b"
            f" LEFT JOIN nb{k} n ON a.id = n.dst, dec)"
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({k - 1} AS INT) AS seed_rank, bid AS id FROM b{k}"
        f" WHERE score > 0"
        for k in range(1, num_seeds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


def msf_block_sql(rounds: int = 8) -> str:
    """Unrolled Borůvka MSF on the block graph with the deterministic
    (weight, src, dst) total-order tie-break — the SQL twin of
    operators/mst.py::boruvka_msf.  Components within a block at least halve
    per round and blocks are 100 vertices at every sf, so 7 rounds always
    suffice (8 for margin; extra rounds are no-ops).  Per-round component
    merging is a recursive-CTE transitive closure over the chosen edges with
    min-root canonicalization (the SQL twin of the driver union-find)."""
    # MATERIALIZED stage CTEs for the same inlining reason as voterank_web_sql
    ctes = [
        BLOCK_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        # deterministic distinct weights from endpoint arithmetic (matches
        # the msf_block query's weight override)
        "em AS MATERIALIZED (SELECT src, dst,"
        " CAST((src * 13 + dst * 7) % 97 + 1 AS DOUBLE) AS weight FROM edges)",
        "l0 AS MATERIALIZED (SELECT id, id AS comp FROM v)",
    ]
    for k in range(1, rounds + 1):
        p = f"l{k - 1}"
        ctes.append(
            f"cross{k} AS MATERIALIZED (SELECT e.src, e.dst, e.weight,"
            f" ls.comp AS ecs, ld.comp AS ecd"
            f" FROM em e JOIN {p} ls ON e.src = ls.id"
            f" JOIN {p} ld ON e.dst = ld.id WHERE ls.comp <> ld.comp)"
        )
        ctes.append(
            f"per{k} AS MATERIALIZED (SELECT ecs AS comp, src, dst, weight, ecs, ecd FROM cross{k}"
            f" UNION ALL SELECT ecd AS comp, src, dst, weight, ecs, ecd FROM cross{k})"
        )
        ctes.append(
            f"chosen{k} AS MATERIALIZED (SELECT DISTINCT src, dst, weight, ecs, ecd FROM ("
            f"SELECT comp, src, dst, weight, ecs, ecd,"
            f" row_number() OVER (PARTITION BY comp ORDER BY weight, src, dst) AS rn"
            f" FROM per{k}) t WHERE rn = 1)"
        )
        ctes.append(
            f"msym{k} AS MATERIALIZED (SELECT ecs AS a, ecd AS b FROM chosen{k}"
            f" UNION ALL SELECT ecd AS a, ecs AS b FROM chosen{k})"
        )
        ctes.append(
            f"reach{k}(c, r) AS ("
            f"SELECT comp AS c, comp AS r FROM (SELECT DISTINCT comp FROM {p}) t0"
            f" UNION "
            f"SELECT m.b AS c, reach{k}.r FROM reach{k}"
            f" JOIN msym{k} m ON reach{k}.c = m.a)"
        )
        ctes.append(
            f"l{k} AS MATERIALIZED (SELECT l.id, nc.newc AS comp FROM {p} l JOIN"
            f" (SELECT c, min(r) AS newc FROM reach{k} GROUP BY c) nc"
            f" ON l.comp = nc.c)"
        )
    finals = " UNION ALL ".join(
        f"SELECT src, dst, weight FROM chosen{k}" for k in range(1, rounds + 1)
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f"\nSELECT DISTINCT src, dst, weight FROM ({finals}) allc"
    )


def louvain_block_sql() -> str:
    """Quality oracle for Louvain (reference bar: modularity quality,
    tests/oracle_community_tests.rs:150): DuckDB computes the planted block
    partition's modularity (q_known) and asserts quality_ok=true; the Spark
    side must reproduce q_known at 6 dp AND achieve Q(louvain) ≥ q_known."""
    body = modularity_block_sql()
    return f"""SELECT q.modularity AS q_known, TRUE AS quality_ok FROM ({body}) q"""


def degree_web_sql(kind: str = "total") -> str:
    """Raw degree counts on the directed web graph (degree.rs:50-114)."""
    out = "SELECT src AS id, count(*) AS c FROM edges GROUP BY src"
    inn = "SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst"
    if kind == "out":
        expr, sub = "coalesce(o.c, 0)", f"LEFT JOIN ({out}) o ON vv.id = o.id"
    elif kind == "in":
        expr, sub = "coalesce(o.c, 0)", f"LEFT JOIN ({inn}) o ON vv.id = o.id"
    else:
        expr = "coalesce(o.c, 0) + coalesce(i.c, 0)"
        sub = f"LEFT JOIN ({out}) o ON vv.id = o.id LEFT JOIN ({inn}) i ON vv.id = i.id"
    return (
        f"WITH {WEB_EDGES_CTE.strip()}\n"
        f"SELECT vv.id, CAST({expr} AS DOUBLE) AS degree FROM v vv {sub}"
    )


def scc_web_sql() -> str:
    """Min-id SCC labels via mutual reachability on the directed web graph —
    oracle twin of the distributed coloring SCC (reference Tarjan semantics,
    connected_components.rs:130-139; partitions compared as canonical
    min-member labels, :219-230)."""
    return f"""WITH RECURSIVE {WEB_EDGES_CTE.strip()},
 adj AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
 reach(a, b) AS (
   SELECT id AS a, id AS b FROM v
   UNION
   SELECT r.a, e.dst AS b FROM reach r JOIN adj e ON r.b = e.src
 )
SELECT r1.a AS id, min(r1.b) AS component
FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
GROUP BY r1.a"""


def condensation_web_sql() -> str:
    """Deduplicated SCC→SCC edges of the condensation DAG (bow-tie analysis
    companion of scc_web; same mutual-reachability labels)."""
    return f"""WITH RECURSIVE {WEB_EDGES_CTE.strip()},
 adj AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
 reach(a, b) AS (
   SELECT id AS a, id AS b FROM v
   UNION
   SELECT r.a, e.dst AS b FROM reach r JOIN adj e ON r.b = e.src
 ),
 lab AS (
   SELECT r1.a AS id, min(r1.b) AS component
   FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
   GROUP BY r1.a
 )
SELECT DISTINCT ls.component AS src, ld.component AS dst
FROM edges e JOIN lab ls ON e.src = ls.id JOIN lab ld ON e.dst = ld.id
WHERE ls.component <> ld.component"""


def bfs_dist_web_sql(max_depth: int = 4, src_mod: int = 97) -> str:
    """(source, id, dist) multi-source BFS within max_depth hops — oracle
    twin of operators/paths.py::bfs_distances (paths.rs:724-760 contract)."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        "adj AS (SELECT DISTINCT src, dst FROM edges)",
        f"l0 AS (SELECT id AS source, id FROM v WHERE id % {src_mod} = 0)",
        "a0 AS (SELECT source, id, 0 AS dist FROM l0)",
    ]
    for k in range(1, max_depth + 1):
        ctes.append(
            f"l{k} AS (SELECT DISTINCT p.source, e.dst AS id"
            f" FROM l{k - 1} p JOIN adj e ON p.id = e.src)"
        )
        ctes.append(
            f"a{k} AS (SELECT source, id, dist FROM a{k - 1}"
            f" UNION ALL SELECT source, id, {k} AS dist FROM l{k})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT source, id, CAST(min(dist) AS INT) AS dist"
        f" FROM a{max_depth} GROUP BY source, id"
    )


def _bellman_ctes(src_pred: str, rounds: int) -> list[str]:
    """Unrolled synchronous Bellman-Ford stage CTEs from sources matching
    ``src_pred`` (over v.id); final table d{rounds}(source, id, dist)."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        "wadj AS (SELECT src, dst, min(weight) AS weight FROM edges GROUP BY src, dst)",
        f"d0 AS (SELECT id AS source, id, 0.0 AS dist FROM v WHERE {src_pred})",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"d{k} AS MATERIALIZED (SELECT source, id, min(dist) AS dist FROM ("
            f"SELECT source, id, dist FROM d{k - 1}"
            f" UNION ALL SELECT p.source, e.dst AS id, p.dist + e.weight AS dist"
            f" FROM d{k - 1} p JOIN wadj e ON p.id = e.src) GROUP BY source, id)"
        )
    return ctes


def sssp_web_sql(rounds: int = 30, src_mod: int = 199) -> str:
    """(source, id, dist) weighted shortest distances — oracle twin of
    operators/paths.py::sssp_distances (Dijkstra contract, paths.rs:201-270);
    Bellman-Ford unrolled past the sf0.01 weighted-hop diameter (probed 26)."""
    ctes = _bellman_ctes(f"id % {src_mod} = 0", rounds)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT source, id, round(dist, {ROUND}) AS dist FROM d{rounds}"
    )


def _pred_ctes(rounds: int) -> list[str]:
    """Predecessor CTEs over a converged d{rounds}(source, id, dist):
    pred(v) = min u with dist(u) + w(u,v) = dist(v) (weights are integer-
    valued doubles, so the equality is bit-exact across engines)."""
    return [
        f"predt AS (SELECT d.source, d.id, min(e.src) AS pred"
        f" FROM d{rounds} d JOIN wadj e ON e.dst = d.id"
        f" JOIN d{rounds} u ON u.source = d.source AND u.id = e.src"
        f" AND u.dist + e.weight = d.dist GROUP BY d.source, d.id)",
        f"ptab AS (SELECT d.source, d.id, d.dist,"
        f" coalesce(p.pred, -1) AS pred FROM d{rounds} d"
        f" LEFT JOIN predt p ON d.source = p.source AND d.id = p.id)",
    ]


def _induced_bellman_ctes(
    below: int,
    rounds: int,
    src_pred: str = "TRUE",
    extra_edge_pred: str = "TRUE",
    weight_expr: str = "min(weight)",
) -> list[str]:
    """Unrolled synchronous Bellman-Ford over the induced subgraph on ids
    < ``below`` (bounded rows: ≤ below² per round CTE, safely MATERIALIZED).
    Sources = induced vertices matching ``src_pred``; final d{rounds}."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        f"iv AS (SELECT id FROM v WHERE id < {below})",
        f"wadj AS (SELECT src, dst, {weight_expr} AS weight FROM edges"
        f" WHERE src < {below} AND dst < {below} AND ({extra_edge_pred})"
        f" GROUP BY src, dst)",
        f"d0 AS (SELECT id AS source, id, 0.0 AS dist FROM iv"
        f" WHERE {src_pred})",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"d{k} AS MATERIALIZED (SELECT source, id, min(dist) AS dist FROM ("
            f"SELECT source, id, dist FROM d{k - 1}"
            f" UNION ALL SELECT p.source, e.dst AS id, p.dist + e.weight AS dist"
            f" FROM d{k - 1} p JOIN wadj e ON p.id = e.src) GROUP BY source, id)"
        )
    return ctes


def fw_local_web_sql(below: int = 60, rounds: int = 60) -> str:
    """All-pairs exact distances on the induced subgraph (ids < below) —
    oracle twin of operators/exact.py::floyd_warshall: per-source
    Bellman-Ford unrolled past |V| rounds computes the same metric."""
    ctes = _induced_bellman_ctes(below, rounds)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT source AS src, id AS dst, round(dist, {ROUND}) AS dist"
        f" FROM d{rounds}"
    )


def johnson_neg_web_sql(below: int = 60, rounds: int = 60) -> str:
    """All-pairs distances with NEGATIVE edge weights on an induced DAG
    (ids < below, src < dst edges only — acyclic, so no negative cycles;
    weight shifted by −3 into {−2..2}) — oracle twin of
    operators/exact.py::johnson.  Bellman-Ford handles the negatives
    natively, so cost parity here proves Johnson's reweighting is exact."""
    ctes = _induced_bellman_ctes(
        below, rounds, extra_edge_pred="src < dst",
        weight_expr="min(weight) - 3",
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT source AS src, id AS dst, round(dist, {ROUND}) AS dist"
        f" FROM d{rounds}"
    )


def astar_local_web_sql(
    below: int = 60, rounds: int = 60, source: int = 1,
    targets: tuple[int, ...] = (2, 3, 5, 58),
) -> str:
    """(s, t, dist) — A* cost parity on the induced subgraph: with an
    admissible heuristic A* returns the exact shortest cost, so the oracle
    is the Bellman-Ford distance for each queried pair (unreachable pairs
    absent on both sides)."""
    ctes = _induced_bellman_ctes(below, rounds, src_pred=f"id = {source}")
    tlist = ", ".join(str(t) for t in targets)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT source AS s, id AS t, round(dist, {ROUND}) AS dist"
        f" FROM d{rounds} WHERE id IN ({tlist})"
    )


def dfs_tree_web_sql(below: int = 60, rounds: int = 60, source: int = 1) -> str:
    """(ord, id) — DFS preorder over the min-pred BFS tree of the induced
    subgraph, children ascending — oracle twin of the dfs_tree_web gate:
    preorder of a tree with sorted children = lexicographic order of the
    zero-padded root-path strings (recursive CTE walk down pred edges)."""
    ctes = _induced_bellman_ctes(
        below, rounds, src_pred=f"id = {source}", weight_expr="1.0"
    )
    ctes.append(
        f"predt AS (SELECT d.id, min(e.src) AS pred"
        f" FROM d{rounds} d JOIN wadj e ON e.dst = d.id"
        f" JOIN d{rounds} u ON u.id = e.src AND u.dist + 1.0 = d.dist"
        f" GROUP BY d.id)"
    )
    ctes.append(
        "paths(id, p) AS ("
        f"SELECT {source}, lpad(CAST({source} AS VARCHAR), 6, '0')"
        " UNION ALL SELECT c.id, w.p || lpad(CAST(c.id AS VARCHAR), 6, '0')"
        " FROM paths w JOIN predt c ON c.pred = w.id)"
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + "\nSELECT CAST(row_number() OVER (ORDER BY p) - 1 AS INT) AS ord,"
        " id FROM paths"
    )


def mst_exact_web_sql(below: int = 150, rounds: int = 8) -> str:
    """Unique MSF edge set on the induced web subgraph — oracle twin of
    operators/exact.py::kruskal_msf/prim_msf: under the (weight, src, dst)
    total-order tie-break the forest is unique, so an unrolled Borůvka with
    the same tie-break reproduces Kruskal's exact edge set."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        f"em AS MATERIALIZED (SELECT least(src, dst) AS src,"
        f" greatest(src, dst) AS dst, min(weight) AS weight FROM edges"
        f" WHERE src < {below} AND dst < {below} AND src <> dst"
        f" GROUP BY 1, 2)",
        f"l0 AS MATERIALIZED (SELECT id, id AS comp FROM v WHERE id < {below})",
    ]
    for k in range(1, rounds + 1):
        p = f"l{k - 1}"
        ctes.append(
            f"cross{k} AS MATERIALIZED (SELECT e.src, e.dst, e.weight,"
            f" ls.comp AS ecs, ld.comp AS ecd"
            f" FROM em e JOIN {p} ls ON e.src = ls.id"
            f" JOIN {p} ld ON e.dst = ld.id WHERE ls.comp <> ld.comp)"
        )
        ctes.append(
            f"per{k} AS MATERIALIZED (SELECT ecs AS comp, src, dst, weight,"
            f" ecs, ecd FROM cross{k}"
            f" UNION ALL SELECT ecd AS comp, src, dst, weight, ecs, ecd"
            f" FROM cross{k})"
        )
        ctes.append(
            f"chosen{k} AS MATERIALIZED (SELECT DISTINCT src, dst, weight,"
            f" ecs, ecd FROM ("
            f"SELECT comp, src, dst, weight, ecs, ecd,"
            f" row_number() OVER (PARTITION BY comp"
            f" ORDER BY weight, src, dst) AS rn"
            f" FROM per{k}) t WHERE rn = 1)"
        )
        ctes.append(
            f"msym{k} AS MATERIALIZED (SELECT ecs AS a, ecd AS b FROM chosen{k}"
            f" UNION ALL SELECT ecd AS a, ecs AS b FROM chosen{k})"
        )
        ctes.append(
            f"reach{k}(c, r) AS ("
            f"SELECT comp AS c, comp AS r FROM (SELECT DISTINCT comp FROM {p}) t0"
            f" UNION "
            f"SELECT m.b AS c, reach{k}.r FROM reach{k}"
            f" JOIN msym{k} m ON reach{k}.c = m.a)"
        )
        ctes.append(
            f"l{k} AS MATERIALIZED (SELECT l.id, nc.newc AS comp FROM {p} l JOIN"
            f" (SELECT c, min(r) AS newc FROM reach{k} GROUP BY c) nc"
            f" ON l.comp = nc.c)"
        )
    finals = " UNION ALL ".join(
        f"SELECT src, dst, weight FROM chosen{k}" for k in range(1, rounds + 1)
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f"\nSELECT DISTINCT src, dst, round(weight, {ROUND}) AS weight"
        f" FROM ({finals}) allc"
    )


def tsp_local_web_sql(below: int = 60, rounds: int = 60, start: int = 1) -> str:
    """Greedy TSP tour order — oracle twin of operators/exact.py::greedy_tsp
    (partial=True): unrolled nearest-unvisited-by-shortest-distance picks
    over the all-pairs Bellman-Ford table, (dist, id) tie-break, closing
    return-to-start leg only when every induced vertex was visited."""
    ctes = _induced_bellman_ctes(below, rounds)
    ctes.append(
        f"p0 AS MATERIALIZED (SELECT {start} AS id, 0 AS step,"
        f" 0.0 AS leg_dist)"
    )
    for k in range(1, below):
        p = f"p{k - 1}"
        ctes.append(
            f"p{k} AS MATERIALIZED (SELECT * FROM {p}"
            f" UNION ALL SELECT * FROM ("
            f"SELECT d.id, {k} AS step, d.dist AS leg_dist FROM d{rounds} d"
            f" WHERE d.source = (SELECT id FROM {p} WHERE step = {k - 1})"
            f" AND d.id NOT IN (SELECT id FROM {p})"
            f" ORDER BY d.dist, d.id LIMIT 1) pick)"
        )
    last = f"p{below - 1}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT step, id, round(leg_dist, {ROUND}) AS leg_dist FROM {last}
UNION ALL
SELECT (SELECT max(step) + 1 FROM {last}), {start},
       round((SELECT dist FROM d{rounds}
              WHERE source = (SELECT id FROM {last}
                              WHERE step = (SELECT max(step) FROM {last}))
              AND id = {start}), {ROUND})
WHERE (SELECT count(*) FROM {last}) = (SELECT count(*) FROM iv)
  AND EXISTS (SELECT 1 FROM d{rounds}
              WHERE source = (SELECT id FROM {last}
                              WHERE step = (SELECT max(step) FROM {last}))
              AND id = {start})"""
    )


def treewidth_local_web_sql(below: int = 60) -> str:
    """Min-degree elimination game — oracle twin of
    operators/exact.py::treewidth_decomposition(heuristic='min_degree'):
    unrolled steps, each eliminating the (degree, id)-minimal vertex of the
    PARTIALLY FILLED-IN graph and adding its neighborhood clique."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        f"te0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,"
        f" greatest(src, dst) AS b FROM edges"
        f" WHERE src < {below} AND dst < {below} AND src <> dst)",
        f"tr0 AS MATERIALIZED (SELECT id FROM v WHERE id < {below})",
    ]
    picks = []
    for k in range(1, below):
        p, e = f"tr{k - 1}", f"te{k - 1}"
        ctes.append(
            f"tdeg{k} AS MATERIALIZED (SELECT r.id,"
            f" (SELECT count(*) FROM {e} WHERE a = r.id OR b = r.id) AS d"
            f" FROM {p} r)"
        )
        ctes.append(
            f"tpick{k} AS MATERIALIZED (SELECT id, d FROM tdeg{k}"
            f" ORDER BY d, id LIMIT 1)"
        )
        ctes.append(
            f"tnb{k} AS MATERIALIZED ("
            f"SELECT b AS v FROM {e} WHERE a = (SELECT id FROM tpick{k})"
            f" UNION SELECT a FROM {e} WHERE b = (SELECT id FROM tpick{k}))"
        )
        ctes.append(
            f"te{k} AS MATERIALIZED ("
            f"SELECT a, b FROM {e}"
            f" WHERE a <> (SELECT id FROM tpick{k})"
            f" AND b <> (SELECT id FROM tpick{k})"
            f" UNION SELECT n1.v AS a, n2.v AS b FROM tnb{k} n1, tnb{k} n2"
            f" WHERE n1.v < n2.v)"
        )
        ctes.append(
            f"tr{k} AS MATERIALIZED (SELECT id FROM {p}"
            f" WHERE id <> (SELECT id FROM tpick{k}))"
        )
        picks.append(
            f"SELECT {k - 1} AS step, id, CAST(d AS INT) AS deg_at_elim"
            f" FROM tpick{k}"
        )
    # the final remaining vertex (if any) eliminates at degree 0
    picks.append(
        f"SELECT {below - 1} AS step, id, 0 AS deg_at_elim FROM tr{below - 1}"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT CAST(step AS INT) AS step, id, deg_at_elim FROM ("
        + " UNION ALL ".join(picks)
        + ") allp WHERE id IS NOT NULL"
    )


def media_features_sql(below: int = 120) -> str:
    """Twin of the media_features gate: per-id deterministic pixel
    arithmetic → per-channel means, computed WITHOUT any codec.  The Spark
    side encodes the same pixels as real PNG (scanline filters cycling all
    five types) and GIF (LZW, 64-entry palette) bytes and decodes them
    through functions/codecs.py — parity proves the decoders exactly."""
    return f"""WITH v AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
 ids AS (SELECT id FROM v WHERE id < {below}),
 dims AS (SELECT id, 6 + id % 5 AS h, 6 + id % 7 AS w FROM ids),
 px AS (SELECT d.id, d.h, d.w, rr.r AS r, cc.c AS c
        FROM dims d, range(0, 10) rr(r), range(0, 12) cc(c)
        WHERE rr.r < d.h AND cc.c < d.w),
 png AS (SELECT id, 'png' AS format, CAST(h AS INT) AS height,
         CAST(w AS INT) AS width,
         round(avg((id + 13*r + 31*c) % 256), {ROUND}) AS mean_r,
         round(avg((id + 13*r + 31*c + 97) % 256), {ROUND}) AS mean_g,
         round(avg((id + 13*r + 31*c + 194) % 256), {ROUND}) AS mean_b
         FROM px GROUP BY id, h, w),
 gif AS (SELECT id, 'gif' AS format, CAST(h AS INT) AS height,
         CAST(w AS INT) AS width,
         round(avg(4 * ((id + 13*r + 31*c) % 64)), {ROUND}) AS mean_r,
         round(avg(255 - 3 * ((id + 13*r + 31*c) % 64)), {ROUND}) AS mean_g,
         round(avg((7 * ((id + 13*r + 31*c) % 64)) % 256), {ROUND}) AS mean_b
         FROM px GROUP BY id, h, w)
SELECT * FROM png UNION ALL SELECT * FROM gif"""


def media_jpeg_sql(below: int = 120) -> str:
    """Twin of the media_jpeg gate: block-constant pixel arithmetic ->
    per-image mean, no codec anywhere.  The Spark side encodes the same
    blocks as real baseline-JPEG bytes (flat quant: the integer DC is the
    only surviving coefficient, reconstruction bit-exact) and decodes
    through functions/codecs.py::decode_jpeg — parity proves the decoder.
    Grayscale luma is replicated into mean_r/g/b by the
    real_image_features convention."""
    return f"""WITH v AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
 ids AS (SELECT id FROM v WHERE id < {below}),
 dims AS (SELECT id, 1 + id % 3 AS bh, 1 + id % 2 AS bw FROM ids),
 blocks AS (SELECT d.id, d.bh, d.bw, rr.r AS by, cc.c AS bx
            FROM dims d, range(0, 3) rr(r), range(0, 2) cc(c)
            WHERE rr.r < d.bh AND cc.c < d.bw),
 m AS (SELECT id, CAST(8 * bh AS INT) AS height, CAST(8 * bw AS INT) AS width,
       avg((id * 7 + by * 13 + bx * 31) % 256) AS mn
       FROM blocks GROUP BY id, bh, bw)
SELECT id, 'jpeg' AS format, height, width,
       round(mn, {ROUND}) AS mean_r, round(mn, {ROUND}) AS mean_g,
       round(mn, {ROUND}) AS mean_b
FROM m"""


def sp_tree_web_sql(rounds: int = 30, src_mod: int = 199) -> str:
    """(source, id, dist, pred) weighted shortest-path tree — oracle twin of
    operators/paths.py::shortest_path_tree (post-hoc min-id predecessor over
    the Bellman-Ford fixpoint)."""
    ctes = _bellman_ctes(f"id % {src_mod} = 0", rounds) + _pred_ctes(rounds)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT source, id, round(dist, {ROUND}) AS dist,"
        f" CAST(pred AS BIGINT) AS pred FROM ptab"
    )


def sssp_path_web_sql(rounds: int = 30, source: int = 1) -> str:
    """(step, id, dist) — the actual shortest vertex chain from ``source``
    to its farthest reachable vertex (max dist, max id tie-break) — oracle
    twin of operators/paths.py::shortest_path: recursive backward walk over
    the min-id predecessor table, re-indexed so step 0 = source."""
    ctes = _bellman_ctes(f"id = {source}", rounds) + _pred_ctes(rounds)
    ctes.append(
        f"tgt AS (SELECT id, dist FROM d{rounds}"
        f" ORDER BY dist DESC, id DESC LIMIT 1)"
    )
    ctes.append(
        "walk(k, id, dist) AS ("
        "SELECT 0, t.id, t.dist FROM tgt t"
        " UNION ALL SELECT w.k + 1, p.pred, u.dist"
        " FROM walk w JOIN ptab p ON p.id = w.id AND p.pred <> -1"
        f" JOIN d{rounds} u ON u.id = p.pred)"
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f"\nSELECT CAST((SELECT max(k) FROM walk) - k AS INT) AS step,"
        f" id, round(dist, {ROUND}) AS dist FROM walk"
    )


def closeness_web_sql(rounds: int = 30, src_mod: int = 29) -> str:
    """Wasserman-Faust closeness for the deterministic landmark subset —
    oracle twin of operators/closeness.py::closeness_centrality
    (closeness.rs:46-51); exact per scored node."""
    ctes = _bellman_ctes(f"id % {src_mod} = 0", rounds)
    ctes += [
        "nn2 AS (SELECT count(*) AS n FROM v)",
        f"agg AS (SELECT source, sum(dist) AS sd, count(*) AS r FROM d{rounds}"
        " WHERE id <> source AND dist > 0 GROUP BY source)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT s.source AS id,
       round(CASE WHEN a.sd > 0 THEN (a.r / a.sd) * (a.r / (nn2.n - 1.0))
                  ELSE 0.0 END, {ROUND}) AS closeness
FROM (SELECT id AS source FROM v WHERE id % {src_mod} = 0) s
LEFT JOIN agg a ON s.source = a.source, nn2"""
    )


def harmonic_web_sql(rounds: int = 30, src_mod: int = 29) -> str:
    """Harmonic centrality (sum of reciprocal distances, harmonic.rs:33-41)
    for the deterministic landmark subset."""
    ctes = _bellman_ctes(f"id % {src_mod} = 0", rounds)
    ctes.append(
        f"agg AS (SELECT source, sum(1.0 / dist) AS h FROM d{rounds}"
        " WHERE id <> source AND dist > 0 GROUP BY source)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT s.source AS id, round(coalesce(a.h, 0.0), {ROUND}) AS harmonic
FROM (SELECT id AS source FROM v WHERE id % {src_mod} = 0) s
LEFT JOIN agg a ON s.source = a.source"""
    )


def betweenness_web_sql(levels: int = 12, src_mod: int = 149) -> str:
    """Sampled-source Brandes (betweenness.rs:41-144; Brandes-Pich n/|S|
    estimator, normalized 1/((n-1)(n-2))) — oracle twin of
    operators/betweenness.py::betweenness_centrality.  Forward BFS sigma
    accumulation and backward dependency accumulation unrolled per level;
    ``levels`` must exceed the max BFS eccentricity of the source set
    (probed 9 at sf0.01)."""
    D = levels
    ctes = [
        WEB_EDGES_CTE.strip(),
        "adj AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        f"st0 AS (SELECT id AS source, id, 0 AS dist, 1.0 AS sigma"
        f" FROM v WHERE id % {src_mod} = 0)",
        "f0 AS (SELECT * FROM st0)",
    ]
    for k in range(1, D + 1):
        ctes.append(
            f"g{k} AS MATERIALIZED (SELECT p.source, e.dst AS id, sum(p.sigma) AS sigma"
            f" FROM f{k - 1} p JOIN adj e ON p.id = e.src GROUP BY p.source, e.dst)"
        )
        ctes.append(
            f"f{k} AS MATERIALIZED (SELECT g.source, g.id, {k} AS dist, g.sigma"
            f" FROM g{k} g LEFT JOIN st{k - 1} t"
            f" ON g.source = t.source AND g.id = t.id WHERE t.id IS NULL)"
        )
        ctes.append(
            f"st{k} AS MATERIALIZED (SELECT * FROM st{k - 1}"
            f" UNION ALL SELECT * FROM f{k})"
        )
    ctes.append(
        f"dag AS MATERIALIZED (SELECT a.source, a.id AS v, b.id AS w, b.dist AS dw,"
        f" a.sigma AS sigma_v, b.sigma AS sigma_w"
        f" FROM st{D} a JOIN adj e ON a.id = e.src"
        f" JOIN st{D} b ON b.source = a.source AND b.id = e.dst"
        f" AND b.dist = a.dist + 1)"
    )
    ctes.append(
        f"x{D} AS MATERIALIZED (SELECT source, id, 0.0 AS delta FROM st{D}"
        f" WHERE dist = {D})"
    )
    for lev in range(D, 0, -1):
        ctes.append(
            f"c{lev} AS MATERIALIZED (SELECT d.source, d.v AS id,"
            f" sum(d.sigma_v / d.sigma_w * (1.0 + x.delta)) AS delta"
            f" FROM dag d JOIN x{lev} x ON d.source = x.source AND d.w = x.id"
            f" WHERE d.dw = {lev} GROUP BY d.source, d.v)"
        )
        ctes.append(
            f"x{lev - 1} AS MATERIALIZED (SELECT t.source, t.id,"
            f" coalesce(c.delta, 0.0) AS delta FROM st{D} t LEFT JOIN c{lev} c"
            f" ON t.source = c.source AND t.id = c.id WHERE t.dist = {lev - 1})"
        )
    acc = " UNION ALL ".join(f"SELECT * FROM x{lev}" for lev in range(D + 1))
    ctes.append(f"acc AS (SELECT * FROM ({acc}))")
    ctes.append(
        "raw AS (SELECT id, sum(delta) AS bc FROM acc WHERE id <> source GROUP BY id)"
    )
    ctes.append("nn2 AS (SELECT count(*) AS n FROM v)")
    ctes.append(
        f"sc AS (SELECT count(*) AS s FROM v WHERE id % {src_mod} = 0)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vv.id,
       round(coalesce(r.bc, 0.0)
             * ((CAST(nn2.n AS DOUBLE) / sc.s) * (1.0 / ((nn2.n - 1.0) * (nn2.n - 2.0)))),
             {ROUND}) AS betweenness
FROM v vv LEFT JOIN raw r ON vv.id = r.id, nn2, sc"""
    )


def dist_metrics_web_sql(max_depth: int = 8) -> str:
    """(diameter, radius, avg_path_length) of the UNDIRECTED web graph —
    oracle twin of operators/distmetrics.py::distance_metrics
    (graph_metrics.rs:40-98, :224-255; NULLs when disconnected).  Unrolled
    all-source BFS; ``max_depth`` must exceed the undirected diameter
    (probed 6 at sf0.01)."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        "adj AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges)",
        "l0 AS (SELECT id AS source, id FROM v)",
        "a0 AS (SELECT source, id, 0 AS dist FROM l0)",
    ]
    for kk in range(1, max_depth + 1):
        ctes.append(
            f"l{kk} AS MATERIALIZED (SELECT DISTINCT p.source, e.dst AS id"
            f" FROM l{kk - 1} p JOIN adj e ON p.id = e.src)"
        )
        ctes.append(
            f"a{kk} AS (SELECT source, id, dist FROM a{kk - 1}"
            f" UNION ALL SELECT source, id, {kk} AS dist FROM l{kk})"
        )
    ctes += [
        f"d AS (SELECT source, id, min(dist) AS dist FROM a{max_depth}"
        " GROUP BY source, id)",
        "per AS (SELECT source, max(dist) AS ecc, count(*) AS reached"
        " FROM d GROUP BY source)",
        "st AS (SELECT min(reached) AS mr, count(*) AS nsrc,"
        " max(ecc) AS diam, min(ecc) AS rad FROM per)",
        "ap AS (SELECT sum(dist) AS td, count(*) AS pc FROM d WHERE dist > 0)",
        "nn2 AS (SELECT count(*) AS n FROM v)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(CASE WHEN st.mr = nn2.n AND st.nsrc = nn2.n THEN st.diam END AS INT) AS diameter,
       CAST(CASE WHEN st.mr = nn2.n AND st.nsrc = nn2.n THEN st.rad END AS INT) AS radius,
       round(CASE WHEN st.mr = nn2.n AND st.nsrc = nn2.n
                  THEN CAST(ap.td AS DOUBLE) / ap.pc END, {ROUND}) AS avg_path_length
FROM st, ap, nn2"""
    )


def _anf_round_ctes(k: int, rounds: int) -> tuple[list[str], str]:
    """Shared register-propagation CTEs of the ANF oracles: returns
    (ctes, lzb_sum_expr) where the final CTEs are ``s0..s{rounds}`` register
    tables and ``lzb_sum_expr`` is the per-row Σ_j lowest-zero-bit sum."""
    from graphina_spark.operators.distmetrics import (
        ANF_A,
        ANF_B,
        ANF_P,
        ANF_REG_BITS,
    )

    cap = ANF_REG_BITS - 1
    # same affine + double-quadratic scramble as _init_registers, staged
    # through hv1/hv2 so each squared term is computed once
    init_cols = []
    for j in range(k):
        h = f"((h2_{j} * h2_{j} + {ANF_B[j]}) % {ANF_P})"
        tz = (
            f"CASE WHEN {h} = 0 THEN {cap} ELSE LEAST(CAST(round(log2(CAST("
            f"({h} & -{h}) AS DOUBLE))) AS INT), {cap}) END"
        )
        init_cols.append(f"CAST(pow(2.0, {tz}) AS BIGINT) AS m{j}")
    h1_cols = ", ".join(
        f"(((id + 1) * {ANF_A[j]} + {ANF_B[j]}) % {ANF_P}) AS h1_{j}"
        for j in range(k)
    )
    h2_cols = ", ".join(
        f"((h1_{j} * h1_{j} + {ANF_A[j]}) % {ANF_P}) AS h2_{j}" for j in range(k)
    )
    ctes = [
        WEB_EDGES_CTE.strip(),
        "adj AS (SELECT DISTINCT src, dst FROM edges)",
        f"hv1 AS (SELECT id, {h1_cols} FROM v)",
        f"hv2 AS (SELECT id, {h2_cols} FROM hv1)",
        f"s0 AS (SELECT id, {', '.join(init_cols)} FROM hv2)",
    ]
    for r in range(1, rounds + 1):
        gcols = ", ".join(f"bit_or(p.m{j}) AS g{j}" for j in range(k))
        mcols = ", ".join(
            f"s.m{j} | coalesce(g.g{j}, 0) AS m{j}" for j in range(k)
        )
        ctes.append(
            f"g{r} AS (SELECT e.src AS id, {gcols} FROM adj e"
            f" JOIN s{r - 1} p ON e.dst = p.id GROUP BY e.src)"
        )
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT s.id, {mcols} FROM s{r - 1} s"
            f" LEFT JOIN g{r} g ON s.id = g.id)"
        )
    est = " + ".join(
        f"CAST(round(log2(CAST(((~m{j}) & (m{j} + 1)) AS DOUBLE))) AS BIGINT)"
        for j in range(k)
    )
    return ctes, est


def anf_web_sql(k: int = 8, rounds: int = 8) -> str:
    """(r, nf) ANF/Flajolet-Martin sketch curve on the directed web graph —
    bit-exact oracle twin of
    operators/distmetrics.py::anf_neighborhood_function with
    ``fixed_rounds=rounds, readout="raw"``: same affine hash family, same
    register width, same bit_or merge; the readout is the INTEGER register
    mass Σ_v Σ_j lzb_j(v), so cross-engine float aggregation order cannot
    perturb the comparison while still pinning every register bit."""
    ctes, est = _anf_round_ctes(k, rounds)
    points = " UNION ALL ".join(
        f"SELECT {r} AS r, CAST(sum({est}) AS BIGINT) AS nf FROM s{r}"
        for r in range(rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(r AS INT) AS r, nf FROM ({points})"
    )


def approx_dist_web_sql(
    k: int = 8, rounds: int = 8, q: float = 0.9, round_to: int = 4
) -> str:
    """(effective_diameter, avg_path_length) — mirror of
    operators/distmetrics.py::approx_distance_metrics(fixed_rounds=rounds,
    round_to=round_to) over the identical integer registers: per-round FM
    estimate NF(r) = Σ_v 2^(mean_j lzb_j)/φ, effective diameter = linear
    interpolation at q·NF(R), APL = Σ r·ΔNF / (NF(R) − NF(0)).  Outputs are
    pre-rounded to ``round_to`` (coarser than the driver's 6 dp) so the
    float curve estimates — deterministic functions of bit-identical
    registers, but summed in engine-specific order — cannot flip the gate."""
    from graphina_spark.operators.distmetrics import ANF_PHI

    ctes, est = _anf_round_ctes(k, rounds)
    points = " UNION ALL ".join(
        f"SELECT {r} AS r, sum(pow(2.0, ({est}) / {float(k)})) / {ANF_PHI} AS nf"
        f" FROM s{r}"
        for r in range(rounds + 1)
    )
    ctes.append(f"curve AS ({points})")
    ctes.append(
        f"ends AS (SELECT (SELECT nf FROM curve WHERE r = 0) AS first,"
        f" (SELECT nf FROM curve WHERE r = {rounds}) AS last)"
    )
    ctes.append(f"tgt AS (SELECT {q} * last AS target, first, last FROM ends)")
    ctes.append(
        "lagd AS (SELECT r, nf, lag(nf) OVER (ORDER BY r) AS pnf FROM curve)"
    )
    ctes.append(
        "crossr AS (SELECT l.r, l.nf, l.pnf, t.target FROM lagd l, tgt t"
        " WHERE l.nf >= t.target ORDER BY l.r LIMIT 1)"
    )
    ctes.append(
        "eff AS (SELECT CASE WHEN r = 0 OR nf = pnf THEN CAST(r AS DOUBLE)"
        " ELSE (r - 1) + (target - pnf) / (nf - pnf) END AS e FROM crossr)"
    )
    ctes.append(
        "apl AS (SELECT CASE WHEN t.last - t.first > 0"
        " THEN sum(l.r * (l.nf - l.pnf)) / (t.last - t.first)"
        " ELSE 0.0 END AS a"
        " FROM lagd l, tgt t WHERE l.r >= 1 GROUP BY t.last, t.first)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT round(e, {round_to}) AS effective_diameter,"
        f" round(a, {round_to}) AS avg_path_length FROM eff, apl"
    )


def _pri_sql(x: str, r: int) -> str:
    """Portable (pri) expression — twin of approximation.py::_priority:
    affine in (x, round) then two quadratic scrambles mod P, disambiguated
    by the input value so distinct x never tie."""
    from graphina_spark.operators.approximation import PRI_A1, PRI_A2, PRI_B
    from graphina_spark.operators.distmetrics import ANF_P

    h1 = f"((({x} + 1) * {PRI_A1} + {r * PRI_A2 + PRI_B}) % {ANF_P})"
    h2 = f"(({h1} * {h1} + {PRI_A1}) % {ANF_P})"
    h3 = f"(({h2} * {h2} + {PRI_A2}) % {ANF_P})"
    return f"({h3} * 2147483648 + {x})"


_ADJU_CTE = (
    "adjU AS (SELECT src, dst FROM edges WHERE src <> dst"
    " UNION SELECT dst, src FROM edges WHERE src <> dst)"
)


def mis_web_sql(rounds: int = 8) -> str:
    """(id) rows of Luby's maximal independent set on the undirected web
    view — oracle twin of approximation.py::maximal_independent_set with
    fixed ``rounds`` (reference contract: independent_set.rs:7-30; the
    distributed schedule is Luby 1986).  ``rounds`` must be probed past
    convergence at gate scale for the result to be maximal."""
    ctes = [WEB_EDGES_CTE.strip(), _ADJU_CTE, "act0 AS (SELECT id FROM v)"]
    mis_terms = []
    for r in range(rounds):
        pri = _pri_sql("id", r)
        ctes.append(f"pri{r} AS (SELECT id, {pri} AS pri FROM act{r})")
        ctes.append(
            f"nm{r} AS (SELECT a.src AS id, min(p.pri) AS nmin FROM adjU a"
            f" JOIN pri{r} p ON a.dst = p.id"
            f" JOIN act{r} s ON a.src = s.id GROUP BY a.src)"
        )
        ctes.append(
            f"win{r} AS (SELECT p.id FROM pri{r} p LEFT JOIN nm{r} n"
            f" ON p.id = n.id WHERE n.nmin IS NULL OR p.pri < n.nmin)"
        )
        ctes.append(
            f"act{r + 1} AS MATERIALIZED (SELECT s.id FROM act{r} s"
            f" WHERE NOT EXISTS (SELECT 1 FROM win{r} w WHERE w.id = s.id)"
            f" AND NOT EXISTS (SELECT 1 FROM adjU a JOIN win{r} w"
            f" ON a.src = w.id WHERE a.dst = s.id))"
        )
        mis_terms.append(f"SELECT id FROM win{r}")
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(mis_terms)


def coloring_web_sql(rounds: int = 8) -> str:
    """(id, color) — Jones–Plassmann greedy coloring on the undirected web
    view, oracle twin of operators/coloring.py::greedy_coloring with fixed
    ``rounds``: static priorities (_pri_sql round 0), per-round min-priority
    winner election, mex color = smallest candidate (generate_series up to
    the used-color count) absent from the colored neighborhood.  Partial
    coloring when under-provisioned — exactly the Spark side's contract."""
    pri0 = _pri_sql("id", 0)
    ctes = [
        WEB_EDGES_CTE.strip(),
        _ADJU_CTE,
        f"a0 AS MATERIALIZED (SELECT id, {pri0} AS pri FROM v)",
        "c0 AS (SELECT CAST(NULL AS BIGINT) AS id,"
        " CAST(NULL AS BIGINT) AS color WHERE false)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"nm{r} AS (SELECT a.src AS id, min(p.pri) AS nmin FROM adjU a"
            f" JOIN a{p} p ON a.dst = p.id"
            f" JOIN a{p} s ON a.src = s.id GROUP BY a.src)"
        )
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT s.id FROM a{p} s LEFT JOIN nm{r} n"
            f" ON s.id = n.id WHERE n.nmin IS NULL OR s.pri < n.nmin)"
        )
        ctes.append(
            f"u{r} AS (SELECT w.id, d.color FROM w{r} w"
            f" JOIN adjU a ON w.id = a.src JOIN c{p} d ON a.dst = d.id"
            f" GROUP BY w.id, d.color)"
        )
        ctes.append(f"k{r} AS (SELECT id, count(*) AS k FROM u{r} GROUP BY id)")
        ctes.append(
            f"cd{r} AS (SELECT b.id, gs.c FROM"
            f" (SELECT w2.id, coalesce(k2.k, 0) AS k FROM w{r} w2"
            f" LEFT JOIN k{r} k2 ON w2.id = k2.id) b,"
            f" UNNEST(generate_series(0, b.k)) AS gs(c))"
        )
        ctes.append(
            f"mx{r} AS (SELECT c.id, min(c.c) AS color FROM cd{r} c"
            f" LEFT JOIN u{r} uu ON c.id = uu.id AND c.c = uu.color"
            f" WHERE uu.id IS NULL GROUP BY c.id)"
        )
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT id, color FROM c{p}"
            f" UNION ALL SELECT id, color FROM mx{r})"
        )
        ctes.append(
            f"a{r} AS MATERIALIZED (SELECT s.id, s.pri FROM a{p} s"
            f" WHERE NOT EXISTS (SELECT 1 FROM w{r} w WHERE w.id = s.id))"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, color FROM c{rounds}"
    )


def _wl_ctes(rounds: int, edges_src: str = "edges", pfx: str = "") -> list[str]:
    """WL refinement CTE chain over ``edges_src``; final colors in
    ``{pfx}c{rounds}``.  All intermediate CTE names carry ``pfx`` so two
    chains (snapshot A and B) can coexist in one query."""
    ctes = [
        f"{pfx}canon AS (SELECT DISTINCT least(src, dst) AS src,"
        f" greatest(src, dst) AS dst FROM {edges_src} WHERE src <> dst)",
        f"{pfx}adj AS (SELECT src, dst FROM {pfx}canon"
        f" UNION ALL SELECT dst AS src, src AS dst FROM {pfx}canon)",
        f"{pfx}dg AS (SELECT src AS id, count(*) AS d FROM {pfx}adj GROUP BY src)",
        f"{pfx}c0 AS MATERIALIZED (SELECT vv.id,"
        f" md5(CAST(coalesce({pfx}dg.d, 0) AS VARCHAR)) AS color"
        f" FROM v vv LEFT JOIN {pfx}dg ON vv.id = {pfx}dg.id)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"{pfx}g{r} AS (SELECT a.src AS id,"
            f" string_agg(c.color, ',' ORDER BY c.color) AS nbrs"
            f" FROM {pfx}adj a JOIN {pfx}c{p} c ON a.dst = c.id GROUP BY a.src)"
        )
        ctes.append(
            f"{pfx}c{r} AS MATERIALIZED (SELECT b.id,"
            f" md5(b.color || '|' || coalesce({pfx}g{r}.nbrs, '')) AS color"
            f" FROM {pfx}c{p} b LEFT JOIN {pfx}g{r} ON b.id = {pfx}g{r}.id)"
        )
    return ctes


def wl_colors_web_sql(rounds: int = 3) -> str:
    """(id, color) 1-WL refinement digests — mirror of
    operators/wl.py::wl_refinement (md5 over 'own|sorted neighbor colors',
    initial color md5(degree)); identical strings in both engines."""
    ctes = [WEB_EDGES_CTE.strip()] + _wl_ctes(rounds)
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, color FROM c{rounds}"


def wl_drift_web_sql(rounds: int = 3) -> str:
    """One row (l1 bigint, classes_a bigint, classes_b bigint,
    shared_classes bigint) — L1 distance between the WL color histograms of
    the base crawl and its recrawl (operators/wl.py::wl_histogram_drift):
    the structural-change readout between snapshots, integer end to end."""
    from graphina_spark.sources.derived import (
        DANGLING_MOD,
        MULTIPLIERS,
        N_HUBS,
        RECRAWL_NEW,
        RECRAWL_ROT,
    )

    ra, rb, rm = RECRAWL_ROT
    mult_b = "\n      UNION ALL ".join(
        f"SELECT id AS src, (id*{a}+{b}) % n AS dst FROM v, nn"
        for a, b in MULTIPLIERS + [RECRAWL_NEW]
    )
    ctes = [
        WEB_EDGES_CTE.strip(),
        f"""e0b AS (
      {mult_b}
      UNION ALL SELECT id AS src, id % {N_HUBS} AS dst FROM v
 )""",
        f"""edges_b AS (
      SELECT DISTINCT src, dst FROM e0b
      WHERE src <> dst AND src % {DANGLING_MOD} <> 0
        AND (src*{ra} + dst*{rb}) % {rm} <> 0
 )""",
    ]
    ctes += _wl_ctes(rounds, edges_src="edges", pfx="a_")
    ctes += _wl_ctes(rounds, edges_src="edges_b", pfx="b_")
    ctes.append(
        f"ha AS (SELECT color, count(*) AS na FROM a_c{rounds} GROUP BY color)"
    )
    ctes.append(
        f"hb AS (SELECT color, count(*) AS nb FROM b_c{rounds} GROUP BY color)"
    )
    ctes.append(
        "j AS (SELECT coalesce(ha.na, 0) AS na, coalesce(hb.nb, 0) AS nb"
        " FROM ha FULL OUTER JOIN hb ON ha.color = hb.color)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + """
SELECT CAST(sum(abs(na - nb)) AS BIGINT) AS l1,
       CAST(sum(CASE WHEN na > 0 THEN 1 ELSE 0 END) AS BIGINT) AS classes_a,
       CAST(sum(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS classes_b,
       CAST(sum(CASE WHEN na > 0 AND nb > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS shared_classes
FROM j"""
    )


def _matching_ctes(rounds: int) -> list[str]:
    ctes = [
        WEB_EDGES_CTE.strip(),
        "eact0 AS (SELECT DISTINCT least(src, dst) AS src,"
        " greatest(src, dst) AS dst FROM edges WHERE src <> dst)",
    ]
    from graphina_spark.operators.distmetrics import ANF_P

    for r in range(rounds):
        folded = f"((src * 1000000007 + dst) % {ANF_P})"
        pri = _pri_sql(folded, r)
        ctes.append(
            f"pri{r} AS (SELECT src, dst, {pri} AS pri FROM eact{r})"
        )
        ctes.append(
            f"byv{r} AS (SELECT src AS v, pri, src, dst FROM pri{r}"
            f" UNION ALL SELECT dst AS v, pri, src, dst FROM pri{r})"
        )
        ctes.append(
            f"best{r} AS (SELECT src, dst FROM (SELECT src, dst,"
            f" row_number() OVER (PARTITION BY v ORDER BY pri, src, dst) AS rn"
            f" FROM byv{r}) WHERE rn = 1)"
        )
        ctes.append(
            f"win{r} AS (SELECT src, dst FROM best{r} GROUP BY src, dst"
            f" HAVING count(*) = 2)"
        )
        ctes.append(
            f"mv{r} AS (SELECT src AS x FROM win{r}"
            f" UNION SELECT dst AS x FROM win{r})"
        )
        ctes.append(
            f"eact{r + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM eact{r} e"
            f" WHERE NOT EXISTS (SELECT 1 FROM mv{r} m"
            f" WHERE m.x = e.src OR m.x = e.dst))"
        )
    return ctes


def matching_web_sql(rounds: int = 8) -> str:
    """(src, dst) maximal matching (Israeli-Itai rank-1-at-both-endpoints
    rounds) — oracle twin of approximation.py::maximal_matching with fixed
    ``rounds`` (reference contract: matching.rs:7-21)."""
    ctes = _matching_ctes(rounds)
    acc = " UNION ALL ".join(f"SELECT src, dst FROM win{r}" for r in range(rounds))
    return "WITH " + ",\n".join(ctes) + "\n" + acc


def vertex_cover_web_sql(rounds: int = 8) -> str:
    """(id) 2-approx vertex cover = endpoints of the maximal matching
    (Gavril; deliberate deviation from vertex_cover.rs's sequential
    max-degree heuristic, see approximation.py docstring)."""
    ctes = _matching_ctes(rounds)
    acc = " UNION ALL ".join(f"SELECT src, dst FROM win{r}" for r in range(rounds))
    ctes.append(f"mm AS ({acc})")
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT DISTINCT id FROM (SELECT src AS id FROM mm"
        " UNION ALL SELECT dst AS id FROM mm)"
    )


def large_clique_web_sql(rounds: int = 8) -> str:
    """(id) greedily-grown clique members (clique.rs:80+ contract) —
    oracle twin of approximation.py::large_clique: per round pick the
    candidate with max candidate-restricted degree (ties → smaller id),
    intersect candidates with its neighborhood.  Rounds past exhaustion
    are no-ops in both engines."""
    ctes = [WEB_EDGES_CTE.strip(), _ADJU_CTE, "cand0 AS (SELECT id FROM v)"]
    picks = []
    for r in range(rounds):
        ctes.append(
            f"deg{r} AS (SELECT a.src AS id, count(*) AS deg FROM adjU a"
            f" JOIN cand{r} c1 ON a.src = c1.id"
            f" JOIN cand{r} c2 ON a.dst = c2.id GROUP BY a.src)"
        )
        ctes.append(
            f"pick{r} AS (SELECT id FROM (SELECT c.id,"
            f" coalesce(d.deg, 0) AS deg FROM cand{r} c LEFT JOIN deg{r} d"
            f" ON c.id = d.id ORDER BY deg DESC, c.id ASC LIMIT 1))"
        )
        ctes.append(
            f"cand{r + 1} AS MATERIALIZED (SELECT a.dst AS id FROM adjU a"
            f" JOIN pick{r} p ON a.src = p.id"
            f" JOIN cand{r} c ON a.dst = c.id WHERE a.dst <> p.id)"
        )
        picks.append(f"SELECT id FROM pick{r}")
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(picks)


def densest_web_sql(epsilon: float = 0.1, rounds: int = 16) -> str:
    """(id) members of the best-density peel round — oracle twin of
    approximation.py::densest_subgraph (Bahmani et al. parallel peeling;
    reference problem contract subgraph.rs:8-60).  Ties in density go to
    the earliest round in both engines."""
    thr = 2.0 * (1.0 + epsilon)
    ctes = [
        WEB_EDGES_CTE.strip(),
        "ce AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst)"
        " AS dst FROM edges WHERE src <> dst)",
        "s0 AS (SELECT id FROM v)",
    ]
    for r in range(rounds + 1):
        ctes.append(
            f"ein{r} AS (SELECT e.src, e.dst FROM ce e"
            f" JOIN s{r} a ON e.src = a.id JOIN s{r} b ON e.dst = b.id)"
        )
        ctes.append(
            f"st{r} AS (SELECT (SELECT count(*) FROM ein{r}) AS m,"
            f" (SELECT count(*) FROM s{r}) AS n)"
        )
        if r < rounds:
            ctes.append(
                f"deg{r} AS (SELECT id, count(*) AS deg FROM"
                f" (SELECT src AS id FROM ein{r}"
                f" UNION ALL SELECT dst AS id FROM ein{r}) GROUP BY id)"
            )
            ctes.append(
                f"s{r + 1} AS MATERIALIZED (SELECT s.id FROM s{r} s"
                f" LEFT JOIN deg{r} d ON s.id = d.id, st{r} t"
                f" WHERE coalesce(d.deg, 0) >"
                f" {thr} * (CAST(t.m AS DOUBLE) / t.n))"
            )
    dens = " UNION ALL ".join(
        f"SELECT {r} AS r, CAST(m AS DOUBLE) / n AS rho FROM st{r} WHERE n > 0"
        for r in range(rounds + 1)
    )
    snaps = " UNION ALL ".join(
        f"SELECT {r} AS r, id FROM s{r}" for r in range(rounds + 1)
    )
    ctes.append(f"dens AS ({dens})")
    ctes.append("best AS (SELECT r FROM dens ORDER BY rho DESC, r ASC LIMIT 1)")
    ctes.append(f"snaps AS ({snaps})")
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT id FROM snaps WHERE r = (SELECT r FROM best)"
    )


def ramsey_web_sql(rounds: int = 8) -> str:
    """(id, kind) union of the greedy clique witness and the Luby MIS —
    oracle twin of approximation.py::ramsey_r2 (ramsey.rs:5-12)."""
    return (
        f"SELECT id, 'clique' AS kind FROM ({large_clique_web_sql(rounds)})\n"
        "UNION ALL\n"
        f"SELECT id, 'independent_set' AS kind FROM ({mis_web_sql(rounds)})"
    )


def validation_web_sql() -> str:
    """One row of validation predicates on the directed web graph — oracle
    twin of the operators/validation.py family (core/validation.rs:16-410):
    is_dag via transitive-closure self-reachability, is_bipartite via
    parity-labeled closure odd-cycle detection, WCC count via closure."""
    return f"""WITH RECURSIVE {WEB_EDGES_CTE.strip()},
 adj AS (SELECT DISTINCT src, dst FROM edges),
 reach(a, b) AS (
   SELECT src AS a, dst AS b FROM adj
   UNION
   SELECT r.a, e.dst AS b FROM reach r JOIN adj e ON r.b = e.src
 ),
 sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
 preach(a, b, odd) AS (
   SELECT src AS a, dst AS b, TRUE AS odd FROM sym
   UNION
   SELECT p.a, e.dst AS b, NOT p.odd FROM preach p JOIN sym e ON p.b = e.src
 ),
 wcc(id, r) AS (
   SELECT id, id AS r FROM v
   UNION
   SELECT s.dst AS id, wcc.r FROM wcc JOIN sym s ON wcc.id = s.src
 ),
 comp AS (SELECT count(DISTINCT mr) AS n_components
          FROM (SELECT id, min(r) AS mr FROM wcc GROUP BY id))
SELECT
  NOT EXISTS (SELECT 1 FROM reach WHERE a = b) AS is_dag,
  EXISTS (SELECT 1 FROM edges WHERE src = dst) AS has_self_loops,
  EXISTS (SELECT 1 FROM edges WHERE weight < 0) AS has_negative_weights,
  NOT EXISTS (SELECT 1 FROM preach WHERE a = b AND odd) AS is_bipartite,
  comp.n_components AS n_components
FROM comp"""


def spectral_clique_sql() -> str:
    """(id, cluster) — planted-partition ground truth for the clique-blocks
    graph: PIC spectral clustering must recover exactly the disconnected
    complete blocks (cluster = min member id).  A semantic oracle, not a
    mirror: the Spark side earns equality only if the whole
    embed-gap-split-label pipeline lands on the true partition (the
    reference's spectral tests pin the same clique-recovery bar,
    community/spectral.rs tests)."""
    from graphina_spark.sources.derived import CLIQUE_BLOCK, CLIQUE_EDGES_CTE

    return (
        f"WITH {CLIQUE_EDGES_CTE.strip()}\n"
        f"SELECT id, (id // {CLIQUE_BLOCK}) * {CLIQUE_BLOCK} AS cluster FROM v"
    )


def pic_clique_sql(iters: int = 5) -> str:
    """(id, score) — bit-mirror of operators/spectral.py::pic_embedding on
    the clique-blocks graph: same quadratic-hash init, same W = D⁻¹A
    gather, same L1 renormalization each step, rounded 6."""
    from graphina_spark.operators.approximation import PRI_A1, PRI_A2, PRI_B
    from graphina_spark.operators.distmetrics import ANF_P
    from graphina_spark.operators.spectral import INIT_BUCKETS
    from graphina_spark.sources.derived import CLIQUE_EDGES_CTE

    h1 = f"(((id + 1) * {PRI_A1} + {PRI_B}) % {ANF_P})"
    h2 = f"(({h1} * {h1} + {PRI_A1}) % {ANF_P})"
    h3 = f"(({h2} * {h2} + {PRI_A2}) % {ANF_P})"
    ctes = [
        CLIQUE_EDGES_CTE.strip(),
        "sym AS (SELECT src, dst, weight FROM edges"
        " UNION ALL SELECT dst, src, weight FROM edges)",
        "symg AS (SELECT src, dst, sum(weight) AS w FROM sym GROUP BY src, dst)",
        "dg AS (SELECT src AS id, sum(w) AS d FROM symg GROUP BY src)",
        "wadj AS (SELECT s.src, s.dst, s.w / dg.d AS wn"
        " FROM symg s JOIN dg ON s.src = dg.id)",
        f"i0 AS (SELECT id, 1.0 + CAST({h3} % {INIT_BUCKETS} AS DOUBLE)"
        f" / {float(INIT_BUCKETS)} AS s FROM v)",
        "t0 AS (SELECT sum(abs(s)) AS t FROM i0)",
        "s0 AS (SELECT id, s / t AS s FROM i0, t0)",
    ]
    for r in range(1, iters + 1):
        ctes.append(
            f"g{r} AS (SELECT w.src AS id, sum(w.wn * p.s) AS g"
            f" FROM wadj w JOIN s{r - 1} p ON w.dst = p.id GROUP BY w.src)"
        )
        ctes.append(
            f"n{r} AS (SELECT v2.id, coalesce(g{r}.g, v2.s) AS s"
            f" FROM s{r - 1} v2 LEFT JOIN g{r} ON v2.id = g{r}.id)"
        )
        ctes.append(f"t{r} AS (SELECT sum(abs(s)) AS t FROM n{r})")
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT id, s / t AS s FROM n{r}, t{r})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, round(s, {ROUND}) AS score FROM s{iters}"
    )


def edge_list_roundtrip_sql() -> str:
    """(src, dst, weight) of the web graph — ground truth for the edge-list
    write→read roundtrip gate (io.rs:59-122 semantics: the text format must
    preserve the exact edge set and weights)."""
    return (
        f"WITH {WEB_EDGES_CTE.strip()}\n"
        "SELECT src, dst, weight FROM edges"
    )


def generators_sql(n: int = 60) -> str:
    """(shape, src, dst) closed-form edge sets of the deterministic
    generators (generators.rs: complete :112-141, star :208-223, cycle
    :238-256, path) — seeded-RNG shapes (ER/WS/BA) are excluded by design
    (RNG streams cannot match across languages, COVERAGE.md).  Uses
    DuckDB's range() table function; no base table needed."""
    return f"""WITH ids AS (SELECT range AS i FROM range({n}))
SELECT 'complete' AS shape, a.i AS src, b.i AS dst
FROM ids a JOIN ids b ON a.i < b.i
UNION ALL
SELECT 'star', 0, i FROM ids WHERE i >= 1
UNION ALL
SELECT 'cycle', i, (i + 1) % {n} FROM ids
UNION ALL
SELECT 'path', i, i + 1 FROM ids WHERE i < {n} - 1"""


def edge_betweenness_web_sql(levels: int = 12, src_mod: int = 149) -> str:
    """(src, dst, betweenness) sampled-source edge betweenness — oracle twin
    of operators/betweenness.py::edge_betweenness_centrality
    (betweenness.rs:160-255; directed normalization 1/((n-1)(n-2)),
    Brandes-Pich n/|S| scaling).  Same forward/dag/backward unroll as
    betweenness_web_sql; the per-level edge terms are kept un-aggregated
    and summed per (v, w) at the end."""
    D = levels
    ctes = [
        WEB_EDGES_CTE.strip(),
        "adj AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        f"st0 AS (SELECT id AS source, id, 0 AS dist, 1.0 AS sigma"
        f" FROM v WHERE id % {src_mod} = 0)",
        "f0 AS (SELECT * FROM st0)",
    ]
    for k in range(1, D + 1):
        ctes.append(
            f"g{k} AS MATERIALIZED (SELECT p.source, e.dst AS id, sum(p.sigma) AS sigma"
            f" FROM f{k - 1} p JOIN adj e ON p.id = e.src GROUP BY p.source, e.dst)"
        )
        ctes.append(
            f"f{k} AS MATERIALIZED (SELECT g.source, g.id, {k} AS dist, g.sigma"
            f" FROM g{k} g LEFT JOIN st{k - 1} t"
            f" ON g.source = t.source AND g.id = t.id WHERE t.id IS NULL)"
        )
        ctes.append(
            f"st{k} AS MATERIALIZED (SELECT * FROM st{k - 1}"
            f" UNION ALL SELECT * FROM f{k})"
        )
    ctes.append(
        f"dag AS MATERIALIZED (SELECT a.source, a.id AS v, b.id AS w, b.dist AS dw,"
        f" a.sigma AS sigma_v, b.sigma AS sigma_w"
        f" FROM st{D} a JOIN adj e ON a.id = e.src"
        f" JOIN st{D} b ON b.source = a.source AND b.id = e.dst"
        f" AND b.dist = a.dist + 1)"
    )
    ctes.append(
        f"x{D} AS MATERIALIZED (SELECT source, id, 0.0 AS delta FROM st{D}"
        f" WHERE dist = {D})"
    )
    for lev in range(D, 0, -1):
        ctes.append(
            f"e{lev} AS MATERIALIZED (SELECT d.source, d.v, d.w,"
            f" d.sigma_v / d.sigma_w * (1.0 + x.delta) AS c"
            f" FROM dag d JOIN x{lev} x ON d.source = x.source AND d.w = x.id"
            f" WHERE d.dw = {lev})"
        )
        ctes.append(
            f"c{lev} AS MATERIALIZED (SELECT source, v AS id, sum(c) AS delta"
            f" FROM e{lev} GROUP BY source, v)"
        )
        ctes.append(
            f"x{lev - 1} AS MATERIALIZED (SELECT t.source, t.id,"
            f" coalesce(c.delta, 0.0) AS delta FROM st{D} t LEFT JOIN c{lev} c"
            f" ON t.source = c.source AND t.id = c.id WHERE t.dist = {lev - 1})"
        )
    eacc = " UNION ALL ".join(f"SELECT * FROM e{lev}" for lev in range(D, 0, -1))
    ctes.append(f"eacc AS (SELECT * FROM ({eacc}))")
    ctes.append(
        "eraw AS (SELECT v AS src, w AS dst, sum(c) AS bc FROM eacc GROUP BY v, w)"
    )
    ctes.append("nn2 AS (SELECT count(*) AS n FROM v)")
    ctes.append(f"sc AS (SELECT count(*) AS s FROM v WHERE id % {src_mod} = 0)")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT e.src, e.dst,
       round(coalesce(r.bc, 0.0)
             * ((CAST(nn2.n AS DOUBLE) / sc.s) * (1.0 / ((nn2.n - 1.0) * (nn2.n - 2.0)))),
             {ROUND}) AS betweenness
FROM (SELECT DISTINCT src, dst FROM edges WHERE src <> dst) e
LEFT JOIN eraw r ON e.src = r.src AND e.dst = r.dst, nn2, sc"""
    )


def girvan_newman_bridged_sql(
    target: int | None = None, removals: int = 4, levels: int = 10
) -> str:
    """(id, community) Girvan-Newman on the bridged-cliques fixture —
    oracle twin of operators/girvan_newman.py::girvan_newman
    (girvan_newman.rs:22-120 rule): per round, if the component count is
    still below ``target``, compute all-sources edge betweenness on the
    surviving canonical edges and delete the argmax edge (round-9 desc,
    src asc, dst asc — both orientations' scores summed).  ``removals``
    bounds the unroll (rounds after the target is reached are no-ops);
    ``levels`` must exceed the fixture's eccentricity (chained cliques ≈ 7)."""
    from graphina_spark.sources.derived import CLIQUE_BLOCK, BRIDGED_EDGES_CTE

    # target defaults to the block count of the current sf (ceil(n/25)), so
    # one SQL string is correct at every scale the driver runs
    tgt = (
        str(target)
        if target is not None
        else f"CAST(ceil(CAST(nn.n AS DOUBLE) / {CLIQUE_BLOCK}) AS BIGINT)"
    )
    D = levels
    ctes = [
        BRIDGED_EDGES_CTE.strip(),
        "e0 AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst"
        " FROM edges WHERE src <> dst)",
    ]
    for t in range(removals):
        P = f"t{t}_"
        ctes.append(
            f"sym{t} AS (SELECT src, dst FROM e{t}"
            f" UNION SELECT dst, src FROM e{t})"
        )
        ctes.append(
            f"wcc{t}(id, r) AS (SELECT id, id AS r FROM v"
            f" UNION SELECT s.dst AS id, wcc{t}.r FROM wcc{t}"
            f" JOIN sym{t} s ON wcc{t}.id = s.src)"
        )
        ctes.append(
            f"lab{t} AS (SELECT id, min(r) AS comp FROM wcc{t} GROUP BY id)"
        )
        ctes.append(f"cnt{t} AS (SELECT count(DISTINCT comp) AS c FROM lab{t})")
        ctes.append(
            f"{P}st0 AS (SELECT id AS source, id, 0 AS dist, 1.0 AS sigma FROM v)"
        )
        ctes.append(f"{P}f0 AS (SELECT * FROM {P}st0)")
        for k in range(1, D + 1):
            ctes.append(
                f"{P}g{k} AS MATERIALIZED (SELECT p.source, e.dst AS id,"
                f" sum(p.sigma) AS sigma FROM {P}f{k - 1} p"
                f" JOIN sym{t} e ON p.id = e.src GROUP BY p.source, e.dst)"
            )
            ctes.append(
                f"{P}f{k} AS MATERIALIZED (SELECT g.source, g.id, {k} AS dist,"
                f" g.sigma FROM {P}g{k} g LEFT JOIN {P}st{k - 1} s"
                f" ON g.source = s.source AND g.id = s.id WHERE s.id IS NULL)"
            )
            ctes.append(
                f"{P}st{k} AS MATERIALIZED (SELECT * FROM {P}st{k - 1}"
                f" UNION ALL SELECT * FROM {P}f{k})"
            )
        ctes.append(
            f"{P}dag AS MATERIALIZED (SELECT a.source, a.id AS v2, b.id AS w2,"
            f" b.dist AS dw, a.sigma AS sigma_v, b.sigma AS sigma_w"
            f" FROM {P}st{D} a JOIN sym{t} e ON a.id = e.src"
            f" JOIN {P}st{D} b ON b.source = a.source AND b.id = e.dst"
            f" AND b.dist = a.dist + 1)"
        )
        ctes.append(
            f"{P}x{D} AS MATERIALIZED (SELECT source, id, 0.0 AS delta"
            f" FROM {P}st{D} WHERE dist = {D})"
        )
        for lev in range(D, 0, -1):
            ctes.append(
                f"{P}e{lev} AS MATERIALIZED (SELECT d.source, d.v2, d.w2,"
                f" d.sigma_v / d.sigma_w * (1.0 + x.delta) AS c"
                f" FROM {P}dag d JOIN {P}x{lev} x"
                f" ON d.source = x.source AND d.w2 = x.id WHERE d.dw = {lev})"
            )
            ctes.append(
                f"{P}c{lev} AS MATERIALIZED (SELECT source, v2 AS id,"
                f" sum(c) AS delta FROM {P}e{lev} GROUP BY source, v2)"
            )
            ctes.append(
                f"{P}x{lev - 1} AS MATERIALIZED (SELECT s.source, s.id,"
                f" coalesce(c.delta, 0.0) AS delta FROM {P}st{D} s"
                f" LEFT JOIN {P}c{lev} c ON s.source = c.source AND s.id = c.id"
                f" WHERE s.dist = {lev - 1})"
            )
        eacc = " UNION ALL ".join(
            f"SELECT * FROM {P}e{lev}" for lev in range(D, 0, -1)
        )
        ctes.append(f"{P}eacc AS (SELECT * FROM ({eacc}))")
        ctes.append(
            f"canon{t} AS (SELECT least(v2, w2) AS src, greatest(v2, w2) AS dst,"
            f" sum(c) AS bc FROM {P}eacc GROUP BY 1, 2)"
        )
        ctes.append(
            f"top{t} AS (SELECT src, dst FROM canon{t}, cnt{t}, nn"
            f" WHERE cnt{t}.c < {tgt}"
            f" ORDER BY round(bc, 9) DESC, src ASC, dst ASC LIMIT 1)"
        )
        ctes.append(
            f"e{t + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e{t} e"
            f" LEFT JOIN top{t} x ON e.src = x.src AND e.dst = x.dst"
            f" WHERE x.src IS NULL)"
        )
    R = removals
    ctes.append(
        f"symF AS (SELECT src, dst FROM e{R} UNION SELECT dst, src FROM e{R})"
    )
    ctes.append(
        "wccF(id, r) AS (SELECT id, id AS r FROM v"
        " UNION SELECT s.dst AS id, wccF.r FROM wccF"
        " JOIN symF s ON wccF.id = s.src)"
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + "\nSELECT id, min(r) AS community FROM wccF GROUP BY id"
    )


def connectivity_theta_sql() -> str:
    """Closed-form local-node-connectivity answers on the theta fixture
    (vertices = customer ids; edges 0–m and m–1 for m in 2..9, rest
    isolated) — semantic oracle for
    operators/connectivity.py::local_node_connectivity
    (connectivity.rs:57-102): (0,1) has exactly the 8 disjoint 2-paths,
    (2,3) routes through endpoints 0 and 1 → 2, (0,10) is disconnected → 0,
    (5,5) → 0 by the source==target rule.  The greedy BFS bound is exact on
    this family for any disjoint-path choice order, so the ground truth is
    engine-independent."""
    return (
        "SELECT * FROM (VALUES"
        " (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(8 AS BIGINT)),"
        " (2, 3, 2),"
        " (0, 10, 0),"
        " (5, 5, 0)"
        ") AS t(source, target, connectivity)"
    )


def clique_removal_sql(max_cliques: int = 3) -> str:
    """(round, id) closed-form answer for bounded clique_removal on the
    clique-blocks fixture: every block is a 25-clique of equal size, the
    greedy argmax (degree desc, id asc) lands on the lowest-id remaining
    block each round, so round r removes exactly block r —
    engine-independent ground truth (clique.rs:57-77 contract)."""
    from graphina_spark.sources.derived import CLIQUE_BLOCK

    return f"""WITH v AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer)
SELECT CAST(id // {CLIQUE_BLOCK} AS INT) AS round, id
FROM v WHERE id < {max_cliques * CLIQUE_BLOCK}"""


def events_graph_sql() -> str:
    """(src, dst, weight) temporal co-occurrence edges — oracle twin of
    sources/derived.py::events_cooccurrence_graph (tz-proof min-anchored
    epoch bucketing; both engines read identical parquet micros)."""
    from graphina_spark.sources.derived import EVENTS_EDGES_CTE

    return (
        f"WITH {EVENTS_EDGES_CTE.strip()}\n"
        "SELECT src, dst, weight FROM edges"
    )


def pagerank_events_sql(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """Weighted PageRank over the events co-occurrence graph — the
    parametrized unrolled builder over EVENTS_EDGES_CTE (isolated users
    are dangling: no out-edges)."""
    from graphina_spark.sources.derived import EVENTS_EDGES_CTE

    return pagerank_web_sql(iters=iters, d=d, edges_cte=EVENTS_EDGES_CTE)


def _kcore_base_ctes(edges_cte: str = WEB_EDGES_CTE) -> list[str]:
    # MATERIALIZED throughout: DuckDB inlines plain CTEs, and each round
    # references the previous one twice -> exponential expansion otherwise
    return [
        edges_cte.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "ce AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,"
        " greatest(src, dst) AS b FROM edges WHERE src <> dst)",
        "sym AS MATERIALIZED (SELECT a AS u, b AS v FROM ce"
        " UNION ALL SELECT b AS u, a AS v FROM ce)",
    ]


def kcore_web_sql(k: int = 3, rounds: int = 12) -> str:
    """Unrolled synchronous k-core peeling (operators/kcore.py::k_core with
    fixed_rounds=rounds): each round keeps vertices with >= k surviving
    neighbors."""
    ctes = _kcore_base_ctes() + ["a0 AS (SELECT id FROM v)"]
    for r in range(1, rounds + 1):
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT s.u AS id, count(*) AS c FROM sym s"
            f" JOIN a{r - 1} x ON s.u = x.id"
            f" JOIN a{r - 1} y ON s.v = y.id GROUP BY s.u)"
        )
        ctes.append(f"a{r} AS MATERIALIZED (SELECT id FROM d{r} WHERE c >= {k})")
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id FROM a{rounds}"


def coreness_web_sql(rounds: int = 12, edges_cte: str = WEB_EDGES_CTE) -> str:
    """Unrolled h-index coreness iteration (operators/kcore.py::core_number
    with fixed_rounds=rounds, Montresor et al. TPDS 2013): c0 = degree,
    c_r(v) = min(c_{r-1}(v), H({c_{r-1}(u) : u in N(v)}))."""
    ctes = _kcore_base_ctes(edges_cte) + [
        "deg AS (SELECT u AS id, count(*) AS c FROM sym GROUP BY u)",
        "c0 AS MATERIALIZED (SELECT v.id, CAST(coalesce(deg.c, 0) AS BIGINT) AS c"
        " FROM v LEFT JOIN deg ON v.id = deg.id)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"h{r} AS MATERIALIZED (SELECT u AS id, max(CASE WHEN cv >= rn THEN rn ELSE 0 END) AS h"
            f" FROM (SELECT s.u, p.c AS cv, row_number() OVER"
            f" (PARTITION BY s.u ORDER BY p.c DESC, s.v) AS rn"
            f" FROM sym s JOIN c{r - 1} p ON s.v = p.id) GROUP BY u)"
        )
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT p.id, CAST(least(p.c, coalesce(h{r}.h, 0)) AS BIGINT) AS c"
            f" FROM c{r - 1} p LEFT JOIN h{r} ON p.id = h{r}.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, c AS core FROM c{rounds}"
    )


def hits_web_sql(iters: int = 5) -> str:
    """Unrolled HITS (operators/hits.py with fixed_iters=iters): per round
    a = L2norm(A^T h), h = L2norm(A a); init h = 1/sqrt(n)."""
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "verts AS MATERIALIZED (SELECT id FROM v)",
        "nn2 AS (SELECT count(*) AS n FROM verts)",
        "h0 AS MATERIALIZED (SELECT id, 1.0 / sqrt(n) AS h FROM verts, nn2)",
    ]
    for k in range(1, iters + 1):
        p = f"h{k - 1}"
        ctes.append(
            f"ar{k} AS MATERIALIZED (SELECT vv.id,"
            f" coalesce(s.s, 0.0) AS a FROM verts vv LEFT JOIN"
            f" (SELECT e.dst AS id, sum(p.h * e.weight) AS s"
            f" FROM edges e JOIN {p} p ON e.src = p.id GROUP BY e.dst) s"
            f" ON vv.id = s.id)"
        )
        ctes.append(
            f"an{k} AS (SELECT CASE WHEN sqrt(sum(a * a)) > 0 THEN sqrt(sum(a * a)) ELSE 1.0 END AS nrm FROM ar{k})"
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT id, a / nrm AS a FROM ar{k}, an{k})"
        )
        ctes.append(
            f"hr{k} AS MATERIALIZED (SELECT vv.id,"
            f" coalesce(s.s, 0.0) AS h FROM verts vv LEFT JOIN"
            f" (SELECT e.src AS id, sum(p.a * e.weight) AS s"
            f" FROM edges e JOIN a{k} p ON e.dst = p.id GROUP BY e.src) s"
            f" ON vv.id = s.id)"
        )
        ctes.append(
            f"hn{k} AS (SELECT CASE WHEN sqrt(sum(h * h)) > 0 THEN sqrt(sum(h * h)) ELSE 1.0 END AS nrm FROM hr{k})"
        )
        ctes.append(
            f"h{k} AS MATERIALIZED (SELECT id, h / nrm AS h FROM hr{k}, hn{k})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT h.id, round(h.h, {ROUND}) AS hub,"
        f" round(a.a, {ROUND}) AS authority"
        f" FROM h{iters} h JOIN a{iters} a ON h.id = a.id"
    )


def _walk_hash_sql(walk: str, step: int, cur: str) -> str:
    """Portable H(walk, step, cur) — mirrors operators/walks.py::_hop_hash
    (PRI_A1/PRI_A2/PRI_B affine fold + two quadratic scrambles mod 2^31-1)."""
    from graphina_spark.operators.approximation import PRI_A1, PRI_A2, PRI_B
    from graphina_spark.operators.distmetrics import ANF_P

    m1 = f"((({walk}) + 1) * {PRI_A1} + {step * PRI_A2} + (({cur}) + 1) * {PRI_B}) % {ANF_P}"
    return (
        f"((({m1}) * ({m1}) + {PRI_A1}) % {ANF_P}"
        f" * ((({m1}) * ({m1}) + {PRI_A1}) % {ANF_P})"
        f" + {PRI_A2}) % {ANF_P}"
    )


def walks_web_sql(length: int = 3, walks_per_node: int = 2) -> str:
    """Unrolled deterministic random walks (operators/walks.py) over the
    directed web graph: pos-indexed adjacency + hash-chosen next hop."""
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "eu AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        "adj AS MATERIALIZED (SELECT src,"
        " row_number() OVER (PARTITION BY src ORDER BY dst) AS pos, dst,"
        " count(*) OVER (PARTITION BY src) AS deg FROM eu)",
        "degs AS MATERIALIZED (SELECT DISTINCT src, deg FROM adj)",
        f"f0 AS MATERIALIZED (SELECT id * {walks_per_node} + j.j AS walk,"
        f" id AS cur FROM v, (SELECT unnest(range({walks_per_node})) AS j) j)",
    ]
    selects = ["SELECT walk, CAST(0 AS INTEGER) AS step, cur AS id FROM f0"]
    for t in range(1, length + 1):
        h = _walk_hash_sql("f.walk", t, "f.cur")
        ctes.append(
            f"f{t} AS MATERIALIZED (SELECT f.walk, a.dst AS cur"
            f" FROM f{t - 1} f JOIN degs d ON f.cur = d.src"
            f" JOIN adj a ON a.src = f.cur"
            f" AND a.pos = ({h}) % d.deg + 1)"
        )
        selects.append(
            f"SELECT walk, CAST({t} AS INTEGER) AS step, cur AS id FROM f{t}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def contract_web_sql(mod: int = 50) -> str:
    """Quotient graph under id % mod (operators/coarsen.py::contract_vertices):
    edge weights summed per (group(src), group(dst)), self-loops kept."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 mp AS (SELECT id, id % {mod} AS grp FROM v),
 q AS (SELECT ms.grp AS s, md.grp AS d, sum(e.weight) AS w
       FROM edges e JOIN mp ms ON e.src = ms.id JOIN mp md ON e.dst = md.id
       GROUP BY ms.grp, md.grp)
SELECT s AS src, d AS dst, round(w, {ROUND}) AS weight FROM q"""


def ktruss_web_sql(k: int = 4, rounds: int = 6) -> str:
    """Unrolled k-truss peeling (operators/truss.py::k_truss with
    fixed_rounds=rounds): per round, edge support = #triangles through the
    edge under degree-ordered orientation; keep support >= k-2.

    k must be >= 3: the final inner join drops zero-support edges, which
    matches the Spark filter only when k-2 >= 1 (the k=2 truss is the whole
    simple graph and needs no oracle)."""
    if k < 3:
        raise ValueError("k must be >= 3")
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "t0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS src,"
        " greatest(src, dst) AS dst FROM edges WHERE src <> dst)",
    ]
    for r in range(1, rounds + 1):
        p, c = f"t{r - 1}", f"t{r}"
        ctes.append(
            f"dg{r} AS MATERIALIZED (SELECT id, count(*) AS d FROM ("
            f"SELECT src AS id FROM {p} UNION ALL SELECT dst FROM {p}) GROUP BY id)"
        )
        ctes.append(
            f"fw{r} AS MATERIALIZED (SELECT CASE WHEN (a.d < b.d)"
            f" OR (a.d = b.d AND e.src < e.dst) THEN e.src ELSE e.dst END AS lo,"
            f" CASE WHEN (a.d < b.d) OR (a.d = b.d AND e.src < e.dst)"
            f" THEN e.dst ELSE e.src END AS hi"
            f" FROM {p} e JOIN dg{r} a ON e.src = a.id JOIN dg{r} b ON e.dst = b.id)"
        )
        ctes.append(
            f"tr{r} AS MATERIALIZED (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c"
            f" FROM fw{r} e1 JOIN fw{r} e2 ON e1.hi = e2.lo"
            f" JOIN fw{r} e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)"
        )
        ctes.append(
            f"sp{r} AS MATERIALIZED (SELECT src, dst, count(*) AS s FROM ("
            f"SELECT least(a, b) AS src, greatest(a, b) AS dst FROM tr{r}"
            f" UNION ALL SELECT least(b, c), greatest(b, c) FROM tr{r}"
            f" UNION ALL SELECT least(a, c), greatest(a, c) FROM tr{r}"
            f") GROUP BY src, dst)"
        )
        ctes.append(
            f"{c} AS MATERIALIZED (SELECT e.src, e.dst FROM {p} e"
            f" JOIN sp{r} s ON e.src = s.src AND e.dst = s.dst"
            f" WHERE s.s >= {k - 2})"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT src, dst FROM t{rounds}"


def bowtie_planted_sql() -> str:
    """Closed-form oracle for the planted bow-tie fixture
    (sources/derived.py::bowtie_graph): the expected class is pure id
    arithmetic, so the gate checks the whole SCC + reachability + WCC
    composition against ground truth with no traversal in the oracle."""
    return """WITH
  v AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
  nn AS (SELECT CAST(floor(count(*) / 4.0) AS BIGINT) AS c1 FROM v)
SELECT id, CASE
    WHEN id < c1 THEN 'CORE'
    WHEN id < 2*c1 THEN 'IN'
    WHEN id < 3*c1 THEN 'OUT'
    WHEN (id - 3*c1) % 3 = 0 THEN 'TENDRIL'
    WHEN (id - 3*c1) % 3 = 1 THEN 'TUBE'
    ELSE 'DISC' END AS cls
FROM v, nn"""


def bowtie_web_sql() -> str:
    """Bow-tie classes on the derived web graph — mirror of
    operators/bowtie.py::bowtie_classification semantics via transitive
    closure: CORE = largest SCC (tie: min label), IN/OUT = reach-to/from the
    core representative, TUBE = IN-to-OUT reachability in the core-free
    subgraph, TENDRIL = rest of the core's weak component, DISC = rest."""
    return f"""WITH RECURSIVE {WEB_EDGES_CTE.strip()},
 adj AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
 reach(a, b) AS (
   SELECT id AS a, id AS b FROM v
   UNION
   SELECT r.a, e.dst AS b FROM reach r JOIN adj e ON r.b = e.src
 ),
 lab AS MATERIALIZED (
   SELECT r1.a AS id, min(r1.b) AS component
   FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
   GROUP BY r1.a
 ),
 rep AS MATERIALIZED (
   SELECT component AS r FROM lab GROUP BY component
   ORDER BY count(*) DESC, component LIMIT 1
 ),
 core AS MATERIALIZED (
   SELECT id FROM lab WHERE component = (SELECT r FROM rep)
 ),
 outs AS MATERIALIZED (
   SELECT b AS id FROM reach WHERE a = (SELECT r FROM rep)
     AND b NOT IN (SELECT id FROM core)
 ),
 ins AS MATERIALIZED (
   SELECT a AS id FROM reach WHERE b = (SELECT r FROM rep)
     AND a NOT IN (SELECT id FROM core)
 ),
 adj2 AS MATERIALIZED (
   SELECT src, dst FROM adj
   WHERE src NOT IN (SELECT id FROM core) AND dst NOT IN (SELECT id FROM core)
 ),
 fin(b) AS (
   SELECT id AS b FROM ins
   UNION
   SELECT e.dst FROM fin f JOIN adj2 e ON f.b = e.src
 ),
 tout(a) AS (
   SELECT id AS a FROM outs
   UNION
   SELECT e.src FROM tout t JOIN adj2 e ON t.a = e.dst
 ),
 uadj AS MATERIALIZED (SELECT src, dst FROM adj UNION SELECT dst, src FROM adj),
 ur(b) AS (
   SELECT r AS b FROM rep
   UNION
   SELECT e.dst FROM ur u JOIN uadj e ON u.b = e.src
 )
SELECT v.id, CASE
    WHEN v.id IN (SELECT id FROM core) THEN 'CORE'
    WHEN v.id IN (SELECT id FROM ins) THEN 'IN'
    WHEN v.id IN (SELECT id FROM outs) THEN 'OUT'
    WHEN v.id IN (SELECT b FROM fin) AND v.id IN (SELECT a FROM tout)
      THEN 'TUBE'
    WHEN v.id IN (SELECT b FROM ur) THEN 'TENDRIL'
    ELSE 'DISC' END AS cls
FROM v"""


def reciprocity_web_sql() -> str:
    """Overall reciprocity on the directed web graph — mirror of
    operators/metrics.py::reciprocity (self-loops dropped, distinct pairs;
    single integer division, bit-identical across engines)."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
 r AS (SELECT count(*) AS rec FROM e a
       WHERE EXISTS (SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src)),
 t AS (SELECT count(*) AS tot FROM e)
SELECT r.rec / t.tot AS reciprocity FROM r, t"""


def degree_hist_web_sql(kind: str = "total") -> str:
    """(deg, n) degree histogram on the web graph — mirror of
    operators/metrics.py::degree_histogram (same in+out convention as the
    gate-green degree_web_sql)."""
    o = "(SELECT src AS id, count(*) AS c FROM edges GROUP BY src)"
    i = "(SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst)"
    if kind == "total":
        expr = "coalesce(o.c, 0) + coalesce(i.c, 0)"
        sub = f"LEFT JOIN {o} o ON vv.id = o.id LEFT JOIN {i} i ON vv.id = i.id"
    elif kind == "in":
        expr = "coalesce(i.c, 0)"
        sub = f"LEFT JOIN {i} i ON vv.id = i.id"
    else:
        expr = "coalesce(o.c, 0)"
        sub = f"LEFT JOIN {o} o ON vv.id = o.id"
    return (
        f"WITH {WEB_EDGES_CTE.strip()},\n"
        f" d AS (SELECT vv.id, {expr} AS deg FROM v vv {sub})\n"
        f"SELECT CAST(deg AS BIGINT) AS deg, CAST(count(*) AS BIGINT) AS n"
        f" FROM d GROUP BY deg"
    )


def edge_sample_web_sql(frac: float = 0.3, salt: str = "esample") -> str:
    """Mirror of operators/sampling.py::sample_edges on the web graph."""
    from graphina_spark.operators.sampling import _hex_threshold

    thr = _hex_threshold(frac)
    return f"""WITH {WEB_EDGES_CTE.strip()}
SELECT src, dst, weight FROM edges
WHERE substr(md5('{salt}:' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), 1, 8) < '{thr}'"""


def vertex_sample_sub_web_sql(frac: float = 0.5, salt: str = "vsample") -> str:
    """Mirror of operators/sampling.py::induced_sample_subgraph edges on the
    web graph (sampled vertex set, induced edges)."""
    from graphina_spark.operators.sampling import _hex_threshold

    thr = _hex_threshold(frac)
    keep = f"substr(md5('{salt}:' || CAST({{c}} AS VARCHAR)), 1, 8) < '{thr}'"
    return f"""WITH {WEB_EDGES_CTE.strip()}
SELECT src, dst FROM edges
WHERE {keep.format(c='src')} AND {keep.format(c='dst')}"""


_CANON_CTE = (
    "ce AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst"
    " FROM edges WHERE src <> dst)"
)


def rich_club_web_sql(k: int = 6) -> str:
    """Mirror of operators/metrics.py::rich_club on the web graph."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 {_CANON_CTE},
 deg AS (SELECT id, count(*) AS d FROM (
   SELECT src AS id FROM ce UNION ALL SELECT dst AS id FROM ce) GROUP BY id),
 rich AS (SELECT id FROM deg WHERE d > {k}),
 nk AS (SELECT count(*) AS n_k FROM rich),
 ek AS (SELECT count(*) AS e_k FROM ce
        WHERE src IN (SELECT id FROM rich) AND dst IN (SELECT id FROM rich))
SELECT CAST(n_k AS BIGINT) AS n_k, CAST(e_k AS BIGINT) AS e_k,
       CASE WHEN n_k >= 2 THEN (2.0 * e_k) / (n_k * (n_k - 1))
            ELSE 0.0 END AS phi
FROM nk, ek"""


def avg_neighbor_degree_web_sql() -> str:
    """Mirror of operators/metrics.py::average_neighbor_degree."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 {_CANON_CTE},
 sym AS (SELECT src, dst FROM ce UNION ALL SELECT dst AS src, src AS dst FROM ce),
 deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src),
 nbr AS (SELECT s.src AS id, sum(g.d) AS sd, count(*) AS nd
         FROM sym s JOIN deg g ON s.dst = g.id GROUP BY s.src)
SELECT v.id, coalesce(n.sd / n.nd, 0.0) AS avg_nbr_deg
FROM v LEFT JOIN nbr n ON v.id = n.id"""


def wcc_sizes_web_sql() -> str:
    """Mirror of operators/components.py::component_size_histogram on the
    web graph (same hash-min WCC labels as the gate-green wcc_web_sql)."""
    return f"""WITH RECURSIVE {WEB_EDGES_CTE.strip()},
 sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
 reach(id, r) AS (
   SELECT id, id AS r FROM v
   UNION
   SELECT s.dst AS id, reach.r FROM reach JOIN sym s ON reach.id = s.src
 ),
 lab AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
 sz AS (SELECT component, count(*) AS size FROM lab GROUP BY component)
SELECT CAST(size AS BIGINT) AS size, CAST(count(*) AS BIGINT) AS n
FROM sz GROUP BY size"""


def salsa_web_sql(iters: int = 4) -> str:
    """Unrolled SALSA (operators/salsa.py with fixed_iters=iters): per round
    the authority chain is a backward+forward two-hop and the hub chain a
    forward+backward two-hop over weight-normalized transitions
    (wn_in = w/w_in(dst), wn_out = w/w_out(src)); L1 normalization per
    round, init a = h = 1/n."""
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "verts AS MATERIALIZED (SELECT id FROM v)",
        "nn2 AS (SELECT count(*) AS n FROM verts)",
        "win AS (SELECT dst, sum(weight) AS w_in FROM edges GROUP BY dst)",
        "wot AS (SELECT src, sum(weight) AS w_out FROM edges GROUP BY src)",
        "en AS MATERIALIZED (SELECT e.src, e.dst,"
        " e.weight / wi.w_in AS wn_in, e.weight / wo.w_out AS wn_out"
        " FROM edges e JOIN win wi ON e.dst = wi.dst"
        " JOIN wot wo ON e.src = wo.src)",
        "a0 AS MATERIALIZED (SELECT id, 1.0 / n AS a FROM verts, nn2)",
        "h0 AS MATERIALIZED (SELECT id, 1.0 / n AS h FROM verts, nn2)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        ctes.append(
            f"ua{k} AS MATERIALIZED (SELECT e.src AS id,"
            f" sum(a.a * e.wn_in) AS m FROM en e"
            f" JOIN a{p} a ON e.dst = a.id GROUP BY e.src)"
        )
        ctes.append(
            f"ar{k} AS MATERIALIZED (SELECT vv.id, coalesce(s.s, 0.0) AS a"
            f" FROM verts vv LEFT JOIN"
            f" (SELECT e.dst AS id, sum(u.m * e.wn_out) AS s FROM en e"
            f" JOIN ua{k} u ON e.src = u.id GROUP BY e.dst) s"
            f" ON vv.id = s.id)"
        )
        ctes.append(
            f"an{k} AS (SELECT CASE WHEN sum(abs(a)) > 0 THEN sum(abs(a))"
            f" ELSE 1.0 END AS nrm FROM ar{k})"
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT id, a / nrm AS a FROM ar{k}, an{k})"
        )
        ctes.append(
            f"xh{k} AS MATERIALIZED (SELECT e.dst AS id,"
            f" sum(h.h * e.wn_out) AS m FROM en e"
            f" JOIN h{p} h ON e.src = h.id GROUP BY e.dst)"
        )
        ctes.append(
            f"hr{k} AS MATERIALIZED (SELECT vv.id, coalesce(s.s, 0.0) AS h"
            f" FROM verts vv LEFT JOIN"
            f" (SELECT e.src AS id, sum(x.m * e.wn_in) AS s FROM en e"
            f" JOIN xh{k} x ON e.dst = x.id GROUP BY e.src) s"
            f" ON vv.id = s.id)"
        )
        ctes.append(
            f"hn{k} AS (SELECT CASE WHEN sum(abs(h)) > 0 THEN sum(abs(h))"
            f" ELSE 1.0 END AS nrm FROM hr{k})"
        )
        ctes.append(
            f"h{k} AS MATERIALIZED (SELECT id, h / nrm AS h FROM hr{k}, hn{k})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT h.id, round(h.h, {ROUND}) AS hub,"
        f" round(a.a, {ROUND}) AS authority"
        f" FROM h{iters} h JOIN a{iters} a ON h.id = a.id"
    )


def host_graph_web_sql(host_mod: int = 64) -> str:
    """Mirror of operators/hostgraph.py::host_links over the web graph with
    synthetic urls https://h{id % host_mod}.example.com/p/{id} (the Spark
    side builds the url string and parses the host back with parse_url;
    weights are integer-valued doubles so the sums are exact)."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 hosts AS (SELECT id,
   'h' || CAST(id % {host_mod} AS VARCHAR) || '.example.com' AS host FROM v)
SELECT s.host AS src_host, d.host AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links, sum(e.weight) AS weight
FROM edges e JOIN hosts s ON e.src = s.id JOIN hosts d ON e.dst = d.id
GROUP BY s.host, d.host"""


def spam_mass_web_sql(
    iters: int = PR_ITERS, d: float = PR_DAMPING, seed_below: int = 16
) -> str:
    """Mirror of operators/trustrank.py::spam_mass — one unrolled uniform
    PageRank chain (u*) and one seed-personalized chain (t*, teleport AND
    dangling mass on the normalized seed indicator id < seed_below), then
    spam_mass = (pr − tr)/pr."""
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "verts AS MATERIALIZED (SELECT id FROM v)",
        "nn2 AS (SELECT count(*) AS n FROM verts)",
        f"ps AS (SELECT count(*) AS np FROM verts WHERE id < {seed_below})",
        f"pvec AS MATERIALIZED (SELECT id, CASE WHEN id < {seed_below}"
        f" THEN 1.0 / np ELSE 0.0 END AS p FROM verts, ps)",
        "wout AS MATERIALIZED (SELECT src AS id, sum(weight) AS w_out"
        " FROM edges GROUP BY src)",
        "en AS MATERIALIZED (SELECT e.src, e.dst, e.weight / w.w_out AS w_norm"
        " FROM edges e JOIN wout w ON e.src = w.id)",
        "u0 AS MATERIALIZED (SELECT id, 1.0 / n AS pr FROM verts, nn2)",
        "t0 AS MATERIALIZED (SELECT id, 1.0 / n AS pr FROM verts, nn2)",
    ]
    for k in range(1, iters + 1):
        for chain in ("u", "t"):
            p, c = f"{chain}{k - 1}", f"{chain}{k}"
            ctes.append(
                f"{chain}d{k} AS (SELECT coalesce(sum(r.pr), 0.0) AS dang"
                f" FROM {p} r LEFT JOIN wout w ON r.id = w.id WHERE w.id IS NULL)"
            )
            ctes.append(
                f"{chain}g{k} AS MATERIALIZED (SELECT en.dst AS id,"
                f" sum(r.pr * en.w_norm) AS gather"
                f" FROM {p} r JOIN en ON r.id = en.src GROUP BY en.dst)"
            )
            if chain == "u":
                ctes.append(
                    f"{c} AS MATERIALIZED (SELECT vv.id,"
                    f" {1.0 - d} / nn2.n + {d} * {chain}d{k}.dang / nn2.n"
                    f" + {d} * coalesce({chain}g{k}.gather, 0.0) AS pr"
                    f" FROM verts vv LEFT JOIN {chain}g{k} ON vv.id = {chain}g{k}.id,"
                    f" nn2, {chain}d{k})"
                )
            else:
                ctes.append(
                    f"{c} AS MATERIALIZED (SELECT pv.id,"
                    f" {1.0 - d} * pv.p + {d} * {chain}d{k}.dang * pv.p"
                    f" + {d} * coalesce({chain}g{k}.gather, 0.0) AS pr"
                    f" FROM pvec pv LEFT JOIN {chain}g{k} ON pv.id = {chain}g{k}.id,"
                    f" {chain}d{k})"
                )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT u.id, round(u.pr, {ROUND}) AS pr,"
        f" round(t.pr, {ROUND}) AS tr,"
        f" round((u.pr - t.pr) / u.pr, {ROUND}) AS spam_mass"
        f" FROM u{iters} u JOIN t{iters} t ON u.id = t.id"
    )


def anchor_stats_sql() -> str:
    """Mirror of the anchor-text index (functions/extract.py
    parse_anchors_udf → groupBy href): the generator emits one anchor per
    DISTINCT modular out-target (sources/pages.py _gen_modular dedupes
    sorted target columns), href = URL_PREFIX + zfill(dst, 8), text =
    'link ' + zfill(dst, 8)."""
    return f"""WITH {PAGES_EDGES_CTE.strip()},
 a AS (SELECT 'https://ex.com/p' || lpad(CAST(dst AS VARCHAR), 8, '0') AS dst_url,
              'link ' || lpad(CAST(dst AS VARCHAR), 8, '0') AS text
       FROM edges)
SELECT dst_url, CAST(count(*) AS BIGINT) AS n_anchors,
       CAST(count(DISTINCT text) AS BIGINT) AS n_texts,
       min(text) AS top_text
FROM a GROUP BY dst_url"""


def _pair_counts_sql(shared: str, other: str, max_degree: int, min_count: int) -> str:
    return f"""WITH {WEB_EDGES_CTE.strip()},
 adj AS (SELECT DISTINCT src, dst FROM edges),
 dg AS (SELECT {shared} AS k, count(*) AS d FROM adj GROUP BY {shared}),
 keep AS (SELECT a.{shared} AS k, a.{other} AS o FROM adj a
          JOIN dg ON a.{shared} = dg.k WHERE dg.d <= {max_degree}),
 p AS (SELECT x.o AS u, y.o AS v FROM keep x JOIN keep y ON x.k = y.k
       WHERE x.o < y.o)
SELECT u, v, CAST(count(*) AS BIGINT) AS n_common
FROM p GROUP BY u, v HAVING count(*) >= {min_count}"""


def cocitation_web_sql(max_degree: int = 10_000, min_count: int = 2) -> str:
    """Mirror of operators/cocitation.py::co_citation (shared in-neighbor
    pair counts, wedge centers above max_degree dropped)."""
    return _pair_counts_sql("src", "dst", max_degree, min_count)


def coupling_web_sql(max_degree: int = 10_000, min_count: int = 2) -> str:
    """Mirror of operators/cocitation.py::bibliographic_coupling."""
    return _pair_counts_sql("dst", "src", max_degree, min_count)


def redirects_web_sql(mod: int = 8) -> str:
    """Closed-form oracle for resolve_redirects on the synthetic chains
    src=id, dst=id−1 (id % mod ≠ 0): the chain walks down to the nearest
    multiple of mod, so final = id − (id % mod).  No loops in the fixture
    (loop handling is pinned by pytest instead — NULL finals aren't
    SQL-expressible as a closed form here)."""
    return f"""WITH v AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer)
SELECT id AS src, CAST(id - (id % {mod}) AS BIGINT) AS final
FROM v WHERE id % {mod} <> 0"""


def canon_urls_sql() -> str:
    """CLOSED-FORM expected output of functions/urls.py::canonical_url on
    the synthetic messy urls built in __spark_entry__._q_canon_urls
    (HTTP://WwW.Site{id%7}.COM:80/p/{id}?<tracking or q={id%5}>#sec):
    scheme/host lowercased, :80 stripped, fragment gone, tracking params
    dropped.  A semantic oracle — it does NOT re-run the normalizer."""
    return """WITH v AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer)
SELECT id,
       'http://www.site' || CAST(id % 7 AS VARCHAR) || '.com/p/'
       || CAST(id AS VARCHAR)
       || CASE WHEN id % 3 = 0 THEN ''
               ELSE '?q=' || CAST(id % 5 AS VARCHAR) END AS curl
FROM v"""


def stratified_docs_sql(fracs: dict, salt: str = "strata") -> str:
    """Mirror of operators/sampling.py::stratified_sample on the documents
    table — same md5 bucket rule, same per-stratum keep thresholds
    (_keep_threshold: 'g' for frac≥1.0 so keep-everything strata survive
    the lexicographic compare)."""
    from graphina_spark.operators.sampling import _keep_threshold

    cases = " ".join(
        f"WHEN '{s}' THEN '{_keep_threshold(f)}'" for s, f in sorted(fracs.items())
    )
    return f"""SELECT doc_id, source FROM documents
WHERE substring(md5('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 8)
      < CASE source {cases} ELSE '00000000' END"""


def top_pages_per_host_sql(host_mod: int = 64, k: int = 3) -> str:
    """Mirror of __spark_entry__._q_top_pages_per_host: in-link weight per
    page, per-host row_number (w_in desc, id asc), top k."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 indeg AS (SELECT dst AS id, sum(weight) AS w_in FROM edges GROUP BY dst),
 hosted AS (SELECT id, w_in, CAST(id % {host_mod} AS BIGINT) AS host FROM indeg),
 ranked AS (SELECT host, id, w_in, row_number() OVER (
     PARTITION BY host ORDER BY w_in DESC, id ASC) AS rnk FROM hosted)
SELECT host, id, w_in, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= {k}"""


def crawl_schedule_sql(
    host_mod: int = 64,
    per_host: int = 3,
    budget: int = 100,
    age_mult: int = 13,
    age_mod: int = 30,
) -> str:
    """Mirror of operators/crawl.py::crawl_schedule — integer in-link
    weight × synthetic integer age, per-host politeness row_number, global
    top-budget over the capped set (total order: priority desc, id asc)."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 indeg AS (SELECT dst AS id, CAST(sum(weight) AS BIGINT) AS w_in
           FROM edges GROUP BY dst),
 pages AS (SELECT CAST(v.id % {host_mod} AS BIGINT) AS host, v.id,
                  coalesce(i.w_in, 0) * ((v.id * {age_mult}) % {age_mod} + 1)
                    AS priority
           FROM v LEFT JOIN indeg i ON v.id = i.id),
 capped AS (SELECT host, id, priority, rnk FROM (
     SELECT host, id, priority, row_number() OVER (
         PARTITION BY host ORDER BY priority DESC, id ASC) AS rnk
     FROM pages) WHERE rnk <= {per_host})
SELECT host, id, priority, CAST(rnk AS INT) AS slot FROM (
  SELECT host, id, priority, rnk, row_number() OVER (
      ORDER BY priority DESC, id ASC) AS grnk FROM capped)
WHERE grnk <= {budget}"""


def session_stats_sql(gap_s: int = 14_400) -> str:
    """Mirror of operators/sessions.py::session_stats — gap-based
    sessionization via lag + running-sum windows (same tz-free
    epoch-seconds anchor as the events co-occurrence oracle)."""
    return f"""WITH ev AS (
   SELECT CAST(event_id AS BIGINT) AS eid, CAST(user_id AS BIGINT) AS uid,
          event_type AS etype,
          date_diff('second', TIMESTAMP '2000-01-01 00:00:00', ts) AS es
   FROM events),
 lg AS (SELECT eid, uid, etype, es,
               CASE WHEN lag(es) OVER (PARTITION BY uid ORDER BY es, eid)
                           IS NULL
                      OR es - lag(es) OVER (PARTITION BY uid ORDER BY es, eid)
                           > {int(gap_s)}
                    THEN 1 ELSE 0 END AS nw
        FROM ev),
 s AS (SELECT eid, uid, etype, es,
              sum(nw) OVER (PARTITION BY uid ORDER BY es, eid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_idx
       FROM lg)
SELECT uid, CAST(session_idx AS BIGINT) AS session_idx,
       count(*) AS n_events, min(es) AS start_es, max(es) AS end_es,
       max(es) - min(es) AS duration_s,
       count(DISTINCT etype) AS n_types
FROM s GROUP BY uid, session_idx"""


def user_butterflies_sql(window_s: int = 3600, cap: int = 5000) -> str:
    """Mirror of operators/butterflies.py::user_butterflies — per-user
    bipartite 4-cycle counts over the capped (uid, win) incidence (same
    derivation as EVENTS_EDGES_CTE's window bucketing)."""
    return f"""WITH ev AS (
   SELECT CAST(user_id AS BIGINT) AS uid,
          date_diff('second', TIMESTAMP '2000-01-01 00:00:00', ts) AS es
   FROM events),
 w0 AS (SELECT DISTINCT uid,
               CAST(floor(es / {window_s}.0) AS BIGINT) AS win FROM ev),
 w AS (SELECT uid, win FROM
         (SELECT uid, win,
                 row_number() OVER (PARTITION BY win ORDER BY uid) AS rn
          FROM w0)
       WHERE rn <= {cap}),
 pr AS (SELECT a.uid AS u, b.uid AS v, count(*) AS shared
        FROM w a JOIN w b ON a.win = b.win AND a.uid < b.uid
        GROUP BY a.uid, b.uid HAVING count(*) >= 2),
 bf AS (SELECT u AS id, shared * (shared - 1) // 2 AS bf FROM pr
        UNION ALL
        SELECT v AS id, shared * (shared - 1) // 2 AS bf FROM pr),
 agg AS (SELECT id, sum(bf) AS butterflies FROM bf GROUP BY id),
 users AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS id FROM events)
SELECT users.id,
       CAST(coalesce(agg.butterflies, 0) AS BIGINT) AS butterflies
FROM users LEFT JOIN agg ON users.id = agg.id"""


def node2vec_web_sql(
    length: int = 3,
    walks_per_node: int = 1,
    w_return: int = 1,
    w_common: int = 2,
    w_far: int = 1,
) -> str:
    """Unrolled deterministic node2vec second-order walks
    (operators/walks.py::node2vec_walks): step 1 uniform, steps ≥ 2 pick the
    first neighbor position whose integer cumulative weight crosses
    H(walk, t, cur)/P of the total — exact integer inverse-CDF, mirrored
    CASE order (return beats common-neighbor)."""
    from graphina_spark.operators.distmetrics import ANF_P

    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "eu AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        "adj AS MATERIALIZED (SELECT src,"
        " row_number() OVER (PARTITION BY src ORDER BY dst) AS pos, dst,"
        " count(*) OVER (PARTITION BY src) AS deg FROM eu)",
        "degs AS MATERIALIZED (SELECT DISTINCT src, deg FROM adj)",
        f"f0 AS MATERIALIZED (SELECT id * {walks_per_node} + j.j AS walk,"
        f" id AS cur FROM v, (SELECT unnest(range({walks_per_node})) AS j) j)",
    ]
    selects = ["SELECT walk, CAST(0 AS INTEGER) AS step, cur AS id FROM f0"]
    if length >= 1:
        h1 = _walk_hash_sql("f.walk", 1, "f.cur")
        ctes.append(
            "f1 AS MATERIALIZED (SELECT f.walk, f.cur AS prev, a.dst AS cur"
            " FROM f0 f JOIN degs d ON f.cur = d.src"
            f" JOIN adj a ON a.src = f.cur AND a.pos = ({h1}) % d.deg + 1)"
        )
        selects.append("SELECT walk, CAST(1 AS INTEGER) AS step, cur AS id FROM f1")
    for t in range(2, length + 1):
        ctes.append(
            f"c{t} AS MATERIALIZED (SELECT f.walk, f.prev, f.cur, a.pos, a.dst,"
            f" CASE WHEN a.dst = f.prev THEN {w_return}"
            f" WHEN n.src IS NOT NULL THEN {w_common}"
            f" ELSE {w_far} END AS w"
            f" FROM f{t - 1} f JOIN adj a ON a.src = f.cur"
            " LEFT JOIN eu n ON n.src = f.prev AND n.dst = a.dst)"
        )
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT walk, cur, pos, dst,"
            " sum(w) OVER (PARTITION BY walk ORDER BY pos"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,"
            f" sum(w) OVER (PARTITION BY walk) AS tot FROM c{t})"
        )
        ht = _walk_hash_sql("walk", t, "cur")
        ctes.append(
            f"f{t} AS MATERIALIZED (SELECT walk, cur AS prev, dst AS cur FROM"
            f" (SELECT walk, cur, dst,"
            " row_number() OVER (PARTITION BY walk ORDER BY pos) AS rn"
            f" FROM s{t} WHERE cum * {ANF_P} > ({ht}) * tot)"
            " WHERE rn = 1)"
        )
        selects.append(
            f"SELECT walk, CAST({t} AS INTEGER) AS step, cur AS id FROM f{t}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def dist_oracle_web_sql(
    max_depth: int = 6, lm_mod: int = 199, pair_a: int = 13, pair_b: int = 7
) -> str:
    """Landmark distance-oracle estimates (operators/distoracle.py):
    unrolled forward and backward BFS from the landmark set, then
    min_l d(u→l) + d(l→v) per query pair (src=id, dst=(id·a+b) mod n)."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        "adj AS (SELECT DISTINCT src, dst FROM edges)",
        "radj AS (SELECT dst AS src, src AS dst FROM adj)",
        f"f0 AS (SELECT id AS source, id, 0 AS dist FROM v WHERE id % {lm_mod} = 0)",
        f"b0 AS (SELECT id AS source, id, 0 AS dist FROM v WHERE id % {lm_mod} = 0)",
    ]
    for k in range(1, max_depth + 1):
        ctes.append(
            f"f{k} AS MATERIALIZED (SELECT source, id, min(dist) AS dist FROM ("
            f"SELECT source, id, dist FROM f{k - 1}"
            f" UNION ALL SELECT p.source, e.dst AS id, {k} AS dist"
            f" FROM f{k - 1} p JOIN adj e ON p.id = e.src) GROUP BY source, id)"
        )
        ctes.append(
            f"b{k} AS MATERIALIZED (SELECT source, id, min(dist) AS dist FROM ("
            f"SELECT source, id, dist FROM b{k - 1}"
            f" UNION ALL SELECT p.source, e.dst AS id, {k} AS dist"
            f" FROM b{k - 1} p JOIN radj e ON p.id = e.src) GROUP BY source, id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
 pairs AS (SELECT id AS src, (id * {pair_a} + {pair_b}) % n AS dst FROM v, nn),
 est AS (SELECT p.src, p.dst, min(b.dist + f.dist) AS est
         FROM pairs p
         JOIN b{max_depth} b ON b.id = p.src
         JOIN f{max_depth} f ON f.source = b.source AND f.id = p.dst
         GROUP BY p.src, p.dst)
SELECT src, dst, CAST(est AS INT) AS est FROM est"""
    )


def graph_diff_web_sql() -> str:
    """Edge churn between the web graph and its recrawl snapshot
    (operators/diff.py::edge_diff over sources/derived.py::web_graph_recrawl):
    full outer join on (src, dst), status kept/added/removed."""
    from graphina_spark.sources.derived import (
        DANGLING_MOD,
        MULTIPLIERS,
        N_HUBS,
        RECRAWL_NEW,
        RECRAWL_ROT,
    )

    ra, rb, rm = RECRAWL_ROT
    mult_b = "\n      UNION ALL ".join(
        f"SELECT id AS src, (id*{a}+{b}) % n AS dst FROM v, nn"
        for a, b in MULTIPLIERS + [RECRAWL_NEW]
    )
    return f"""WITH {WEB_EDGES_CTE.strip()},
 e0b AS (
      {mult_b}
      UNION ALL SELECT id AS src, id % {N_HUBS} AS dst FROM v
 ),
 edges_b AS (
      SELECT DISTINCT src, dst FROM e0b
      WHERE src <> dst AND src % {DANGLING_MOD} <> 0
        AND (src*{ra} + dst*{rb}) % {rm} <> 0
 ),
 edges_a AS (SELECT DISTINCT src, dst FROM edges)
SELECT coalesce(a.src, b.src) AS src, coalesce(a.dst, b.dst) AS dst,
       CASE WHEN a.src IS NOT NULL AND b.src IS NOT NULL THEN 'kept'
            WHEN a.src IS NOT NULL THEN 'removed'
            ELSE 'added' END AS status
FROM edges_a a FULL OUTER JOIN edges_b b
  ON a.src = b.src AND a.dst = b.dst"""


def funnel_stages_sql(steps: tuple[str, ...] = ("view", "click", "purchase")) -> str:
    """Mirror of operators/funnel.py::funnel_stages — strict-order
    first-touch funnel with the composite (epoch-seconds, event_id) order
    key; one min-agg CTE per step."""
    from graphina_spark.operators.funnel import EID_SCALE

    ctes = [
        "ev AS (SELECT CAST(user_id AS BIGINT) AS uid, event_type AS etype,"
        " date_diff('second', TIMESTAMP '2000-01-01 00:00:00', ts)"
        f" * {EID_SCALE} + CAST(event_id AS BIGINT) AS o FROM events)",
        "u AS (SELECT DISTINCT uid FROM ev)",
    ]
    for i, step in enumerate(steps, start=1):
        if i == 1:
            ctes.append(
                f"s1 AS (SELECT uid, min(o) AS po FROM ev"
                f" WHERE etype = '{step}' GROUP BY uid)"
            )
        else:
            ctes.append(
                f"s{i} AS (SELECT e.uid, min(e.o) AS po FROM ev e"
                f" JOIN s{i - 1} p ON e.uid = p.uid AND e.o > p.po"
                f" WHERE e.etype = '{step}' GROUP BY e.uid)"
            )
    stage = "CASE "
    for i in range(len(steps), 0, -1):
        stage += f"WHEN s{i}.uid IS NOT NULL THEN {i} "
    stage += "ELSE 0 END"
    joins = " ".join(
        f"LEFT JOIN s{i} ON u.uid = s{i}.uid" for i in range(1, len(steps) + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT u.uid, CAST({stage} AS INT) AS stage FROM u {joins}"
    )


def cohort_retention_sql(period_s: int = 7 * 86_400) -> str:
    """Mirror of operators/retention.py::cohort_retention — first-touch
    cohorts and per-offset distinct active users."""
    return f"""WITH ev AS (
   SELECT CAST(user_id AS BIGINT) AS uid,
          CAST(floor(date_diff('second', TIMESTAMP '2000-01-01 00:00:00', ts)
                     / {period_s}.0) AS BIGINT) AS per
   FROM events),
 fst AS (SELECT uid, min(per) AS cohort FROM ev GROUP BY uid),
 act AS (SELECT DISTINCT uid, per FROM ev)
SELECT f.cohort, a.per - f.cohort AS "offset", count(*) AS n_users
FROM act a JOIN fst f ON a.uid = f.uid
GROUP BY f.cohort, a.per - f.cohort"""


def session_transitions_sql(gap_s: int = 14_400) -> str:
    """Mirror of operators/transitions.py::session_transitions — the
    sessionizer CTEs + a lead window per session + row-normalized counts."""
    return f"""WITH ev AS (
   SELECT CAST(event_id AS BIGINT) AS eid, CAST(user_id AS BIGINT) AS uid,
          event_type AS etype,
          date_diff('second', TIMESTAMP '2000-01-01 00:00:00', ts) AS es
   FROM events),
 lg AS (SELECT eid, uid, etype, es,
               CASE WHEN lag(es) OVER (PARTITION BY uid ORDER BY es, eid)
                           IS NULL
                      OR es - lag(es) OVER (PARTITION BY uid ORDER BY es, eid)
                           > {int(gap_s)}
                    THEN 1 ELSE 0 END AS nw
        FROM ev),
 s AS (SELECT eid, uid, etype, es,
              sum(nw) OVER (PARTITION BY uid ORDER BY es, eid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_idx
       FROM lg),
 pr AS (SELECT etype AS cur,
               lead(etype) OVER (PARTITION BY uid, session_idx
                                 ORDER BY es, eid) AS nxt
        FROM s),
 cnt AS (SELECT cur, nxt, count(*) AS n FROM pr
         WHERE nxt IS NOT NULL GROUP BY cur, nxt)
SELECT cur, nxt, n,
       round(n / CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE), 6) AS p
FROM cnt"""


def conductance_web_sql(host_mod: int = 64) -> str:
    """Mirror of operators/cuts.py::community_cut_metrics on the web graph
    with host communities (id % host_mod — the hostgraph convention)."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 sym AS (SELECT src, dst, weight FROM edges
         UNION ALL SELECT dst AS src, src AS dst, weight FROM edges),
 lab AS (SELECT id, id % {host_mod} AS community FROM v),
 per AS (SELECT a.community AS community,
                sum(s.weight) AS volume,
                sum(CASE WHEN a.community <> b.community
                         THEN s.weight ELSE 0 END) AS cut
         FROM sym s JOIN lab a ON s.src = a.id JOIN lab b ON s.dst = b.id
         GROUP BY a.community),
 tot AS (SELECT sum(volume) AS tot FROM per)
SELECT community, round(volume, {ROUND}) AS volume, round(cut, {ROUND}) AS cut,
       round(volume - cut, {ROUND}) AS internal,
       round(CASE WHEN least(volume, tot - volume) > 0
                  THEN cut / least(volume, tot - volume) ELSE 0.0 END,
             {ROUND}) AS conductance
FROM per, tot"""


def ari_block_sql(iters: int = LPA_ITERS, block: int = 100) -> str:
    """Adjusted Rand Index between the unrolled-LPA labeling and the planted
    floor(id/block) blocks — mirror of operators/partitions.py::
    adjusted_rand_index composed with lpa_block_sql (same arithmetic order:
    expected = sa*sb/cn2, maximum = (sa+sb)/2)."""
    return f"""WITH lpa AS ({lpa_block_sql(iters)}),
 j AS (SELECT id, label AS la, CAST(floor(id / {block}) AS BIGINT) AS lb FROM lpa),
 cont AS (SELECT la, lb, count(*) AS nij FROM j GROUP BY la, lb),
 s1 AS (SELECT sum(nij * (nij - 1) / 2.0) AS sij FROM cont),
 s2 AS (SELECT sum(na * (na - 1) / 2.0) AS sa
        FROM (SELECT la, sum(nij) AS na FROM cont GROUP BY la)),
 s3 AS (SELECT sum(nb * (nb - 1) / 2.0) AS sb
        FROM (SELECT lb, sum(nij) AS nb FROM cont GROUP BY lb)),
 nn AS (SELECT count(*) * (count(*) - 1) / 2.0 AS cn2 FROM j)
SELECT round(CASE WHEN cn2 = 0 THEN 1.0
                  WHEN (sa + sb) / 2.0 = sa * sb / cn2 THEN 1.0
                  ELSE (sij - sa * sb / cn2)
                       / ((sa + sb) / 2.0 - sa * sb / cn2) END,
             {ROUND}) AS ari
FROM s1, s2, s3, nn"""


def nmi_block_sql(iters: int = LPA_ITERS, block: int = 100) -> str:
    """Normalized mutual information (arithmetic normalization, natural log)
    between the unrolled-LPA labeling and the planted floor(id/block) blocks
    — mirror of operators/partitions.py::normalized_mutual_information
    composed with lpa_block_sql (same formula: MI = Σ nij/n·ln(n·nij/(na·nb)),
    NMI = 2·MI/(HA+HB), 1.0 when both entropies vanish)."""
    return f"""WITH lpa AS ({lpa_block_sql(iters)}),
 j AS (SELECT id, label AS la, CAST(floor(id / {block}) AS BIGINT) AS lb FROM lpa),
 cont AS (SELECT la, lb, count(*) AS nij FROM j GROUP BY la, lb),
 nn3 AS (SELECT CAST(sum(nij) AS DOUBLE) AS n FROM cont),
 ca AS (SELECT la, sum(nij) AS na FROM cont GROUP BY la),
 cb AS (SELECT lb, sum(nij) AS nb FROM cont GROUP BY lb),
 mi AS (SELECT coalesce(sum(c.nij / n.n
                            * ln(n.n * c.nij / (ca.na * cb.nb))), 0.0) AS mi
        FROM cont c JOIN ca USING (la) JOIN cb USING (lb), nn3 n),
 ha AS (SELECT coalesce(-sum(na / n.n * ln(na / n.n)), 0.0) AS h FROM ca, nn3 n),
 hb AS (SELECT coalesce(-sum(nb / n.n * ln(nb / n.n)), 0.0) AS h FROM cb, nn3 n)
SELECT round(CASE WHEN ha.h + hb.h = 0.0 THEN 1.0
                  ELSE 2.0 * mi.mi / (ha.h + hb.h) END, {ROUND}) AS nmi
FROM mi, ha, hb"""


def attr_assortativity_web_sql(host_mod: int = 64) -> str:
    """Mirror of operators/metrics.py::attribute_assortativity with host
    labels (id % host_mod — the hostgraph convention): Newman categorical
    mixing r = (trace - sum a_x b_x) / (1 - sum a_x b_x)."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 lab AS (SELECT id, id % {host_mod} AS label FROM v),
 cont AS (SELECT a.label AS la, b.label AS lb, count(*) AS n
          FROM edges e JOIN lab a ON e.src = a.id JOIN lab b ON e.dst = b.id
          GROUP BY a.label, b.label),
 m AS (SELECT sum(n) AS m FROM cont),
 exy AS (SELECT la, lb, n * 1.0 / m.m AS e FROM cont, m),
 tr AS (SELECT coalesce(sum(e), 0.0) AS t FROM exy WHERE la = lb),
 ab AS (SELECT coalesce(sum(ra.a * cb.b), 0.0) AS s
        FROM (SELECT la, sum(e) AS a FROM exy GROUP BY la) ra
        JOIN (SELECT lb AS la, sum(e) AS b FROM exy GROUP BY lb) cb USING (la))
SELECT round(CASE WHEN 1.0 - ab.s = 0.0 THEN 1.0
                  ELSE (tr.t - ab.s) / (1.0 - ab.s) END, {ROUND}) AS attr_assortativity
FROM tr, ab"""


def _sweep_cut_sql(cte: str) -> str:
    """Mirror of operators/cuts.py::sweep_cut ordered by id — min-conductance
    prefix via delta cumsums (all-integer until the final ratio)."""
    return f"""WITH {cte},
 rk AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS rank FROM v),
 und AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d
         FROM edges WHERE src <> dst),
 deg AS (SELECT id, count(*) AS deg FROM
         (SELECT s AS id FROM und UNION ALL SELECT d AS id FROM und)
         GROUP BY id),
 er AS (SELECT least(ra.rank, rb.rank) AS minr, greatest(ra.rank, rb.rank) AS maxr
        FROM und JOIN rk ra ON und.s = ra.id JOIN rk rb ON und.d = rb.id),
 delta AS (SELECT pos AS rank, sum(dd) AS dlt FROM
           (SELECT minr AS pos, 1 AS dd FROM er
            UNION ALL SELECT maxr AS pos, -1 AS dd FROM er) GROUP BY pos),
 rv AS (SELECT rk.rank, coalesce(deg.deg, 0) AS deg, coalesce(delta.dlt, 0) AS dlt
        FROM rk LEFT JOIN deg ON rk.id = deg.id
        LEFT JOIN delta ON rk.rank = delta.rank),
 pre AS (SELECT rank, sum(deg) OVER (ORDER BY rank) AS vol,
                sum(dlt) OVER (ORDER BY rank) AS cut FROM rv),
 m AS (SELECT max(vol) AS m2 FROM pre)
SELECT CAST(rank + 1 AS BIGINT) AS n_side, CAST(cut AS BIGINT) AS cut_edges,
       CAST(vol AS BIGINT) AS volume,
       round(cut * 1.0 / least(vol, m2 - vol), {ROUND}) AS conductance
FROM pre, m
WHERE least(vol, m2 - vol) > 0
ORDER BY conductance, rank LIMIT 1"""


def sweep_cut_block_sql() -> str:
    return _sweep_cut_sql(BLOCK_EDGES_CTE.strip())


def sweep_cut_web_sql() -> str:
    return _sweep_cut_sql(WEB_EDGES_CTE.strip())


def powerlaw_web_sql(kmin: int = 5) -> str:
    """Mirror of operators/metrics.py::powerlaw_alpha_mle(kind="in") on the
    web graph — same in-degree convention as degree_web_sql, same
    continuous-approximation MLE arithmetic (1 + n/Σln(k/(kmin-0.5)))."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 d AS (SELECT dst AS id, count(*) AS deg FROM edges GROUP BY dst),
 tail AS (SELECT deg FROM d WHERE deg >= {kmin})
SELECT CAST({kmin} AS BIGINT) AS kmin,
       CAST(count(*) AS BIGINT) AS n_tail,
       round(1.0 + count(*) / sum(ln(deg / {kmin - 0.5})), {ROUND}) AS alpha,
       round((count(*) / sum(ln(deg / {kmin - 0.5}))) / sqrt(count(*)),
             {ROUND}) AS sigma
FROM tail"""


def seeded_lpa_web_sql(iters: int = 4, seed_mod: int = 97) -> str:
    """Mirror of operators/lpa.py::seeded_label_propagation on the web graph
    with seeds = vertices where id % seed_mod == 0 labeled by their own id.
    Unrolled synchronous rounds; every round CTE is AS MATERIALIZED (it is
    referenced twice — plain CTE inlining goes exponential)."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        "sym AS (SELECT src, dst FROM edges UNION ALL"
        " SELECT dst AS src, src AS dst FROM edges)",
        f"seeds AS (SELECT id, id AS slabel FROM v WHERE id % {seed_mod} = 0)",
        "l0 AS MATERIALIZED (SELECT v.id, s.slabel AS label"
        " FROM v LEFT JOIN seeds s ON v.id = s.id)",
    ]
    for k in range(1, iters + 1):
        p = f"l{k - 1}"
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT l.id, coalesce(s.slabel, b.new_label, l.label) AS label
  FROM {p} l LEFT JOIN seeds s ON l.id = s.id LEFT JOIN (
    SELECT id, label AS new_label FROM (
      SELECT e.dst AS id, l2.label, count(*) AS cnt,
             row_number() OVER (PARTITION BY e.dst
                                ORDER BY count(*) DESC, l2.label ASC) AS rn
      FROM sym e JOIN {p} l2 ON e.src = l2.id AND l2.label IS NOT NULL
      GROUP BY e.dst, l2.label
    ) t WHERE rn = 1
  ) b ON l.id = b.id
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label FROM l{iters}"


def eccentricity_web_sql(max_depth: int = 6, src_mod: int = 97) -> str:
    """Mirror of operators/paths.py::eccentricity over the bfs_dist_web
    unroll (same frontier CTE chain, then one per-source aggregation)."""
    inner = bfs_dist_web_sql(max_depth=max_depth, src_mod=src_mod)
    return (
        f"WITH b AS ({inner})\n"
        "SELECT source, CAST(count(*) AS BIGINT) AS n_reached,\n"
        "       CAST(max(dist) AS BIGINT) AS eccentricity\n"
        "FROM b GROUP BY source"
    )


def host_distinct_web_sql(host_mod: int = 64, k: int = 8) -> str:
    """Mirror of operators/cardinality.py::approx_distinct_by_key over the
    web graph with key = src % host_mod ("host"), val = dst: same portable
    FM hash family (see anf_web_sql), bit_or merge, integer register mass +
    the deterministic 2^(mean lzb)/phi estimate."""
    from graphina_spark.operators.distmetrics import (
        ANF_A,
        ANF_B,
        ANF_P,
        ANF_PHI,
        ANF_REG_BITS,
    )

    cap = ANF_REG_BITS - 1
    init_cols = []
    for j in range(k):
        h = f"((h2_{j} * h2_{j} + {ANF_B[j]}) % {ANF_P})"
        tz = (
            f"CASE WHEN {h} = 0 THEN {cap} ELSE LEAST(CAST(round(log2(CAST("
            f"({h} & -{h}) AS DOUBLE))) AS INT), {cap}) END"
        )
        init_cols.append(f"CAST(pow(2.0, {tz}) AS BIGINT) AS m{j}")
    h1_cols = ", ".join(
        f"(((dst + 1) * {ANF_A[j]} + {ANF_B[j]}) % {ANF_P}) AS h1_{j}"
        for j in range(k)
    )
    h2_cols = ", ".join(
        f"((h1_{j} * h1_{j} + {ANF_A[j]}) % {ANF_P}) AS h2_{j}" for j in range(k)
    )
    lzb = [
        f"CAST(round(log2(CAST(((~m{j}) & (m{j} + 1)) AS DOUBLE))) AS BIGINT)"
        for j in range(k)
    ]
    mass = " + ".join(lzb)
    return f"""WITH {WEB_EDGES_CTE.strip()},
 hv1 AS (SELECT src % {host_mod} AS key, {h1_cols} FROM edges),
 hv2 AS (SELECT key, {h2_cols} FROM hv1),
 reg AS (SELECT key, {', '.join(init_cols)} FROM hv2),
 merged AS (SELECT key, {', '.join(f'bit_or(m{j}) AS m{j}' for j in range(k))}
            FROM reg GROUP BY key)
SELECT key AS host, CAST({mass} AS BIGINT) AS register_mass,
       round(pow(2.0, ({mass}) / {float(k)}) / {ANF_PHI}, {ROUND})
         AS approx_distinct
FROM merged"""


def st_dist_web_sql(
    max_depth: int = 16, src_mod: int = 199, dst_mod: int = 173
) -> str:
    """Semantic twin of operators/paths.py::bidirectional_distance for the
    query batch s % src_mod == 0 × t % dst_mod == 0: a one-sided BFS unroll
    (the bidirectional schedule is a performance choice, not a semantics
    one) filtered to the target set; depth cap = 2 × the Spark side's
    max_rounds."""
    inner = bfs_dist_web_sql(max_depth=max_depth, src_mod=src_mod)
    return (
        f"WITH b AS ({inner})\n"
        f"SELECT source AS s, id AS t, CAST(dist AS BIGINT) AS dist\n"
        f"FROM b WHERE id % {dst_mod} = 0"
    )


def rfm_events_sql() -> str:
    """Mirror of operators/rfm.py::rfm_scores — rank arithmetic quintiles
    over the total order (metric, uid); recency score inverted (5 = most
    recent).  row_number is 1-based where the Spark prefix is 0-based:
    score = 1 + floor(5·(rn−1)/n)."""
    return """WITH ev AS (
   SELECT CAST(user_id AS BIGINT) AS uid,
          CAST(date_diff('second', TIMESTAMP '2000-01-01 00:00:00', ts)
               AS BIGINT) AS es,
          CAST(value AS DOUBLE) AS v
   FROM events),
 h AS (SELECT max(es) AS h FROM ev),
 base AS (
   SELECT uid,
          CAST(floor((h.h - max(es)) / 86400.0) AS BIGINT) AS recency_days,
          count(*) AS frequency, round(sum(v), 2) AS monetary
   FROM ev, h GROUP BY uid, h.h),
 n AS (SELECT count(*) AS n FROM base),
 ranked AS (
   SELECT b.*,
          row_number() OVER (ORDER BY recency_days, uid) AS rr,
          row_number() OVER (ORDER BY frequency, uid) AS rf,
          row_number() OVER (ORDER BY monetary, uid) AS rm
   FROM base b)
SELECT uid, recency_days, CAST(frequency AS BIGINT) AS frequency, monetary,
       CAST(6 - (1 + floor(5 * (rr - 1) / n.n)) AS INT) AS r,
       CAST(1 + floor(5 * (rf - 1) / n.n) AS INT) AS f,
       CAST(1 + floor(5 * (rm - 1) / n.n) AS INT) AS m
FROM ranked, n"""


def _recrawl_edges_cte() -> str:
    """The recrawl snapshot's weighted edge derivation, shaped like
    WEB_EDGES_CTE (mirror of sources/derived.py::web_graph_recrawl)."""
    from graphina_spark.sources.derived import (
        DANGLING_MOD,
        MULTIPLIERS,
        N_HUBS,
        RECRAWL_NEW,
        RECRAWL_ROT,
    )

    ra, rb, rm = RECRAWL_ROT
    mult_b = "\n      UNION ALL ".join(
        f"SELECT id AS src, (id*{a}+{b}) % n AS dst FROM v, nn"
        for a, b in MULTIPLIERS + [RECRAWL_NEW]
    )
    return f"""
  v AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
  nn AS (SELECT count(*) AS n FROM v),
  e0 AS (
      {mult_b}
      UNION ALL SELECT id AS src, id % {N_HUBS} AS dst FROM v
  ),
  edges AS (
      SELECT DISTINCT src, dst, CAST((src+dst) % 5 + 1 AS DOUBLE) AS weight
      FROM e0 WHERE src <> dst AND src % {DANGLING_MOD} <> 0
        AND (src*{ra} + dst*{rb}) % {rm} <> 0
  )"""


def rank_drift_web_sql(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """Mirror of operators/diff.py::rank_drift between the web graph and its
    recrawl snapshot — two complete unrolled PR chains nested as CTE
    subqueries, drift over the 6-dp-rounded scores."""
    pa = pagerank_web_sql(iters, d)
    pb = pagerank_web_sql(iters, d, edges_cte=_recrawl_edges_cte())
    return f"""WITH pa AS ({pa}),
 pb AS ({pb})
SELECT coalesce(pa.id, pb.id) AS id,
       coalesce(pa.pr, 0.0) AS pr_old,
       coalesce(pb.pr, 0.0) AS pr_new,
       round(coalesce(pb.pr, 0.0) - coalesce(pa.pr, 0.0), {ROUND}) AS drift
FROM pa FULL OUTER JOIN pb ON pa.id = pb.id"""


def two_sweep_web_sql(max_depth: int = 12) -> str:
    """Mirror of operators/distmetrics.py::two_sweep_lower_bound on the web
    graph: recursive BFS (depth-capped, min-dist per vertex) from min(id)
    over the symmetrized edges, farthest vertex ties to smallest id, second
    BFS from it, max distance = the diameter lower bound."""
    return f"""WITH RECURSIVE {WEB_EDGES_CTE.strip()},
 sym AS (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM edges
          UNION ALL SELECT dst AS src, src AS dst FROM edges)),
 s0 AS (SELECT min(id) AS id FROM v),
 w1(id, dist) AS (
   SELECT id, 0 FROM s0
   UNION
   SELECT s.dst, w.dist + 1 FROM w1 w JOIN sym s ON w.id = s.src
   WHERE w.dist < {max_depth}),
 b1 AS (SELECT id, min(dist) AS dist FROM w1 GROUP BY id),
 far AS (SELECT id FROM b1 ORDER BY dist DESC, id ASC LIMIT 1),
 w2(id, dist) AS (
   SELECT id, 0 FROM far
   UNION
   SELECT s.dst, w.dist + 1 FROM w2 w JOIN sym s ON w.id = s.src
   WHERE w.dist < {max_depth}),
 b2 AS (SELECT id, min(dist) AS dist FROM w2 GROUP BY id)
SELECT (SELECT id FROM s0) AS start,
       (SELECT id FROM far) AS far_node,
       (SELECT max(dist) FROM b2) AS lower_bound"""


def neg_edges_web_sql(
    per_node: int = 3, oversample: int = 4, salt: str = "negsample"
) -> str:
    """Mirror of operators/links.py::negative_edges on the web graph — the
    md5-hex → integer conversion spelled as the fixed-order digit sum equal
    to Spark's conv(hex, 16, 10) (same trick as weighted_sample_sql)."""
    m = per_node * oversample
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"""WITH {WEB_EDGES_CTE.strip()},
 cand0 AS (
   SELECT v.id AS src, u.j,
          substr(md5('{salt}:' || CAST(v.id AS VARCHAR) || ':'
                     || CAST(u.j AS VARCHAR)), 1, 8) AS h
   FROM v, nn, UNNEST(generate_series(1, {m})) AS u(j)),
 cand AS (SELECT c.src, c.j, ({digits}) % nn.n AS dst
          FROM cand0 c, nn),
 valid AS (SELECT c.src, c.j, c.dst FROM cand c
           JOIN v vv ON c.dst = vv.id WHERE c.src <> c.dst),
 nonedge AS (SELECT va.src, va.j, va.dst FROM valid va
             LEFT JOIN (SELECT DISTINCT src, dst FROM edges) e
               ON va.src = e.src AND va.dst = e.dst
             WHERE e.src IS NULL)
SELECT src, dst FROM (
  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY j) AS rn
  FROM nonedge) WHERE rn <= {per_node}"""


def _neg_cand_ctes(per_node: int, oversample: int, salt: str) -> str:
    """Shared CTE chain producing ``negd`` — the canonical negative_edges
    sample (md5 candidates, validity semi-join, edge anti-join, per-src
    window) used by the AUC oracles."""
    m = per_node * oversample
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f""" cand0 AS (
   SELECT v.id AS src, u.j,
          substr(md5('{salt}:' || CAST(v.id AS VARCHAR) || ':'
                     || CAST(u.j AS VARCHAR)), 1, 8) AS h
   FROM v, UNNEST(generate_series(1, {m})) AS u(j)),
 cand AS (SELECT c.src, c.j, ({digits}) % nn.n AS dst
          FROM cand0 c, nn),
 validn AS (SELECT c.src, c.j, c.dst FROM cand c
            JOIN v vv ON c.dst = vv.id WHERE c.src <> c.dst),
 nonedge AS (SELECT va.src, va.j, va.dst FROM validn va
             LEFT JOIN (SELECT DISTINCT src, dst FROM edges) e
               ON va.src = e.src AND va.dst = e.dst
             WHERE e.src IS NULL),
 negd AS (SELECT src, dst FROM (
   SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY j) AS rn
   FROM nonedge) WHERE rn <= {per_node})"""


#: shared AUC tail over `pos`/`neg` canonical pair CTEs + the `stats` wedge
#: kernel: tie-aware Mann-Whitney via average ranks over integer cn groups
_AUC_TAIL = """ pairs AS (SELECT u, v, 1 AS label FROM pos
           UNION ALL SELECT u, v, 0 AS label FROM neg),
 scored AS (SELECT p.label, coalesce(s.cn, 0) AS score
            FROM pairs p LEFT JOIN stats s ON p.u = s.u AND p.v = s.v),
 grp AS (SELECT score, count(*) AS cnt, sum(label) AS pos_c
         FROM scored GROUP BY score),
 ranked AS (SELECT pos_c, cnt,
                   coalesce(sum(cnt) OVER (ORDER BY score
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below
            FROM grp),
 fin AS (SELECT CAST(sum(pos_c) AS DOUBLE) AS p, CAST(sum(cnt) AS DOUBLE) AS t,
                sum(pos_c * (below + (cnt + 1) / 2.0)) AS rpos
         FROM ranked)
SELECT round(CASE WHEN p = 0 OR t - p = 0 THEN 0.5
                  ELSE (rpos - p * (p + 1) / 2.0) / (p * (t - p)) END,
             {r}) AS auc,
       CAST(p AS BIGINT) AS npos, CAST(t - p AS BIGINT) AS nneg
FROM fin"""


def linkpred_auc_web_sql(
    per_node: int = 3,
    oversample: int = 4,
    salt: str = "negsample",
    max_middle_degree: int | None = None,
) -> str:
    """Mirror of operators/links.py::link_prediction_auc with score=cn on the
    web graph: canonical real edges (label 1) vs canonicalized
    negative_edges samples (label 0), scored by the hub-capped wedge kernel
    (_LINKS_CTES stats), tie-aware Mann-Whitney AUC via average ranks over
    integer score groups."""
    if max_middle_degree is None:
        from graphina_spark.operators.links import DEFAULT_MAX_MIDDLE_DEGREE

        max_middle_degree = DEFAULT_MAX_MIDDLE_DEGREE
    links = _LINKS_CTES.format(max_middle_degree=max_middle_degree)
    return f"""WITH {WEB_EDGES_CTE.strip()},{links},
 pos AS (SELECT s AS u, d AS v FROM canon),
{_neg_cand_ctes(per_node, oversample, salt)},
 neg AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM negd
         EXCEPT SELECT u, v FROM pos),
{_AUC_TAIL.format(r=ROUND)}"""


def future_auc_web_sql(
    per_node: int = 3,
    oversample: int = 4,
    salt: str = "negsample",
    max_middle_degree: int | None = None,
) -> str:
    """Mirror of operators/links.py::future_link_auc(web, web_recrawl):
    positives = canonical recrawl edges absent from the base crawl,
    negatives = negative_edges of the base canonicalized and excluded from
    BOTH snapshots, scores = cn wedge kernel of the BASE structure only."""
    from graphina_spark.sources.derived import (
        DANGLING_MOD,
        MULTIPLIERS,
        N_HUBS,
        RECRAWL_NEW,
        RECRAWL_ROT,
    )

    if max_middle_degree is None:
        from graphina_spark.operators.links import DEFAULT_MAX_MIDDLE_DEGREE

        max_middle_degree = DEFAULT_MAX_MIDDLE_DEGREE
    ra, rb, rm = RECRAWL_ROT
    mult_b = "\n      UNION ALL ".join(
        f"SELECT id AS src, (id*{a}+{b}) % n AS dst FROM v, nn"
        for a, b in MULTIPLIERS + [RECRAWL_NEW]
    )
    links = _LINKS_CTES.format(max_middle_degree=max_middle_degree)
    return f"""WITH {WEB_EDGES_CTE.strip()},{links},
 e0b AS (
      {mult_b}
      UNION ALL SELECT id AS src, id % {N_HUBS} AS dst FROM v
 ),
 edges_b AS (
      SELECT DISTINCT src, dst FROM e0b
      WHERE src <> dst AND src % {DANGLING_MOD} <> 0
        AND (src*{ra} + dst*{rb}) % {rm} <> 0
 ),
 canonb AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM edges_b),
 pos AS (SELECT u, v FROM canonb
         EXCEPT SELECT s AS u, d AS v FROM canon),
{_neg_cand_ctes(per_node, oversample, salt)},
 neg AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM negd
         EXCEPT SELECT s AS u, d AS v FROM canon
         EXCEPT SELECT u, v FROM canonb),
{_AUC_TAIL.format(r=ROUND)}"""


def asof_purchase_sql() -> str:
    """Mirror-free oracle for the as-of attribution gate: DuckDB's NATIVE
    ``ASOF LEFT JOIN`` (backward inclusive, same semantics the operator
    implements) over the same deterministic right-side dedup (per (uid, ts)
    keep max event_id).  Epoch-seconds anchored like every events oracle."""
    return """WITH ev AS (
   SELECT CAST(event_id AS BIGINT) AS eid, CAST(user_id AS BIGINT) AS uid,
          event_type AS etype, value, ts,
          date_diff('second', TIMESTAMP '2000-01-01 00:00:00', ts) AS es
   FROM events),
 l AS (SELECT eid, uid, etype, ts, es FROM ev WHERE etype <> 'purchase'),
 r AS (SELECT uid, ts, eid, value, es FROM (
         SELECT uid, ts, eid, value, es,
                row_number() OVER (PARTITION BY uid, ts ORDER BY eid DESC) rn
         FROM ev WHERE etype = 'purchase') WHERE rn = 1)
SELECT l.eid, l.uid, l.etype, l.es,
       r.eid AS purchase_eid,
       ROUND(r.value, 6) AS purchase_value,
       l.es - r.es AS lag_s
FROM l ASOF LEFT JOIN r ON l.uid = r.uid AND l.ts >= r.ts"""


def range_purchase_ctx_sql(window_s: int = 3600) -> str:
    """Oracle for the bucketized range-join gate: plain predicate LEFT JOIN
    (DuckDB's IEJoin handles the inequality natively) counting each
    purchase's same-user non-purchase events in the trailing window."""
    return f"""WITH ev AS (
   SELECT CAST(event_id AS BIGINT) AS eid, CAST(user_id AS BIGINT) AS uid,
          event_type AS etype, value,
          date_diff('second', TIMESTAMP '2000-01-01 00:00:00', ts) AS es
   FROM events),
 p AS (SELECT eid, uid, es FROM ev WHERE etype = 'purchase'),
 x AS (SELECT eid, uid, es, value FROM ev WHERE etype <> 'purchase')
SELECT p.eid, p.uid, p.es,
       count(x.eid) AS ctx_events,
       ROUND(coalesce(sum(x.value), 0), 6) AS ctx_value
FROM p LEFT JOIN x
  ON p.uid = x.uid AND x.es BETWEEN p.es - {int(window_s)} AND p.es
GROUP BY p.eid, p.uid, p.es"""


def triad_census_web_sql() -> str:
    """16-row Holland-Leinhardt triad census over the directed web graph —
    mirror of operators/triads.py::triad_census (the Batagelj-Mrvar
    complement method: enumerated support triangles + per-middle wedge
    combinatorics − triangle corner corrections + per-dyad singles
    arithmetic + 003 by complement).  The 64-entry tricode lookup is the
    SAME derived table (triads.TRICODE_CLASS) embedded as VALUES — the
    classification convention itself is pinned independently of both
    engines by hand-built fixtures in tests/test_triads.py."""
    from graphina_spark.operators.triads import TRIAD_NAMES, TRICODE_CLASS

    lut_rows = ", ".join(f"({i}, '{c}')" for i, c in enumerate(TRICODE_CLASS))
    name_rows = ", ".join(f"('{n}')" for n in TRIAD_NAMES)

    def kind(code: str, is_lo: bool) -> str:
        o = 1 if is_lo else 2
        return f"CASE WHEN {code} = 3 THEN 'm' WHEN {code} = {o} THEN 'o' ELSE 'i' END"

    def wclass(k1: str, k2: str) -> str:
        return f"""CASE least({k1}, {k2}) || greatest({k1}, {k2})
            WHEN 'oo' THEN '021D' WHEN 'ii' THEN '021U' WHEN 'io' THEN '021C'
            WHEN 'mo' THEN '111U' WHEN 'im' THEN '111D' ELSE '201' END"""

    return f"""WITH {WEB_EDGES_CTE.strip()},
 se AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
 dy AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
               CAST(sum(CASE WHEN src < dst THEN 1 ELSE 2 END) AS INT) AS code
        FROM se GROUP BY 1, 2),
 nv AS (SELECT count(*) AS n FROM v),
 tri AS (SELECT d1.code AS cab, d3.code AS cac, d2.code AS cbc
         FROM dy d1 JOIN dy d2 ON d2.u = d1.v
                    JOIN dy d3 ON d3.u = d1.u AND d3.v = d2.v),
 lut(code, name) AS (VALUES {lut_rows}),
 tric AS (SELECT lut.name AS triad, count(*) AS cnt
          FROM tri JOIN lut ON lut.code =
               (CASE cab WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 3 END)
             + (CASE cac WHEN 1 THEN 4 WHEN 2 THEN 8 ELSE 12 END)
             + (CASE cbc WHEN 1 THEN 16 WHEN 2 THEN 32 ELSE 48 END)
          GROUP BY 1),
 corners AS (
      SELECT {wclass(kind('cab', True), kind('cac', True))} AS wc FROM tri
      UNION ALL
      SELECT {wclass(kind('cab', False), kind('cbc', True))} FROM tri
      UNION ALL
      SELECT {wclass(kind('cac', False), kind('cbc', False))} FROM tri),
 corr AS (SELECT wc AS triad, count(*) AS cnt FROM corners GROUP BY 1),
 ends AS (SELECT u AS id, CASE code WHEN 3 THEN 'm' WHEN 1 THEN 'o' ELSE 'i' END AS kind FROM dy
          UNION ALL
          SELECT v, CASE code WHEN 3 THEN 'm' WHEN 2 THEN 'o' ELSE 'i' END FROM dy),
 moi AS (SELECT id,
                sum(CASE WHEN kind = 'm' THEN 1 ELSE 0 END) AS m,
                sum(CASE WHEN kind = 'o' THEN 1 ELSE 0 END) AS o,
                sum(CASE WHEN kind = 'i' THEN 1 ELSE 0 END) AS i
         FROM ends GROUP BY id),
 comb(triad, cnt) AS (
      SELECT '021D', coalesce(sum((o * (o - 1)) // 2), 0) FROM moi
      UNION ALL SELECT '021U', coalesce(sum((i * (i - 1)) // 2), 0) FROM moi
      UNION ALL SELECT '021C', coalesce(sum(o * i), 0) FROM moi
      UNION ALL SELECT '111U', coalesce(sum(m * o), 0) FROM moi
      UNION ALL SELECT '111D', coalesce(sum(m * i), 0) FROM moi
      UNION ALL SELECT '201', coalesce(sum((m * (m - 1)) // 2), 0) FROM moi),
 wedge AS (SELECT comb.triad, comb.cnt - coalesce(corr.cnt, 0) AS cnt
           FROM comb LEFT JOIN corr ON comb.triad = corr.triad),
 sdeg AS (SELECT id, count(*) AS deg
          FROM (SELECT u AS id FROM dy UNION ALL SELECT v FROM dy) GROUP BY id),
 cns AS (SELECT
      coalesce(sum((cab <> 3)::INT + (cac <> 3)::INT + (cbc <> 3)::INT), 0) AS cn_a,
      coalesce(sum((cab = 3)::INT + (cac = 3)::INT + (cbc = 3)::INT), 0) AS cn_m
   FROM tri),
 dsum AS (SELECT
      coalesce(sum(CASE WHEN code <> 3 THEN su.deg + sv.deg - 2 ELSE 0 END), 0) AS asym_d,
      coalesce(sum(CASE WHEN code = 3 THEN su.deg + sv.deg - 2 ELSE 0 END), 0) AS mut_d,
      coalesce(sum(CASE WHEN code <> 3 THEN 1 ELSE 0 END), 0) AS a_cnt,
      coalesce(sum(CASE WHEN code = 3 THEN 1 ELSE 0 END), 0) AS m_cnt
   FROM dy JOIN sdeg su ON su.id = dy.u JOIN sdeg sv ON sv.id = dy.v),
 singles(triad, cnt) AS (
      SELECT '012', dsum.a_cnt * (nv.n - 2) - dsum.asym_d + cns.cn_a FROM dsum, nv, cns
      UNION ALL
      SELECT '102', dsum.m_cnt * (nv.n - 2) - dsum.mut_d + cns.cn_m FROM dsum, nv, cns),
 agg AS (SELECT triad, sum(cnt) AS cnt
         FROM (SELECT * FROM tric UNION ALL SELECT * FROM wedge
               UNION ALL SELECT * FROM singles)
         GROUP BY triad),
 names(triad) AS (VALUES {name_rows})
SELECT names.triad AS triad,
       CAST(CASE WHEN names.triad = '003'
                 THEN (SELECT (n * (n - 1) * (n - 2)) // 6 FROM nv)
                      - (SELECT coalesce(sum(cnt), 0) FROM agg)
                 ELSE coalesce(agg.cnt, 0) END AS BIGINT) AS count
FROM names LEFT JOIN agg ON names.triad = agg.triad"""


def simrank_web_sql(
    steps: int = 4,
    replicates: int = 6,
    max_out_degree: int = 256,
    c_num: int = 4,
    c_den: int = 5,
) -> str:
    """(u, v, simrank) Monte-Carlo SimRank over co-cited web-graph pairs —
    mirror of operators/simrank.py::simrank_scores over cocited_pairs:
    coupled deterministic reverse walks (hop hash H(replicate, step, cur),
    the same _walk_hash_sql with the replicate in the walk slot), first
    meeting time per (pair, replicate), exact integer contribution
    c_num^tau * c_den^(steps-tau), one final double division."""
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "se AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        f"oks AS (SELECT src FROM se GROUP BY src HAVING count(*) <= {max_out_degree})",
        "ce AS MATERIALIZED (SELECT se.src, se.dst FROM se JOIN oks ON se.src = oks.src)",
        "prs AS MATERIALIZED (SELECT DISTINCT least(a.dst, b.dst) AS u,"
        " greatest(a.dst, b.dst) AS v FROM ce a JOIN ce b"
        " ON a.src = b.src AND a.dst <> b.dst)",
        "radj AS MATERIALIZED (SELECT dst AS node,"
        " row_number() OVER (PARTITION BY dst ORDER BY src) AS pos,"
        " src AS prev, count(*) OVER (PARTITION BY dst) AS indeg FROM se)",
        "indegs AS MATERIALIZED (SELECT DISTINCT node, indeg FROM radj)",
        "starts AS (SELECT u AS id FROM prs UNION SELECT v FROM prs)",
        f"w0 AS MATERIALIZED (SELECT id AS start, r.r, id AS cur"
        f" FROM starts, (SELECT unnest(range({replicates})) AS r) r)",
    ]
    selects = ["SELECT start, r, 0 AS t, cur AS pos FROM w0"]
    for t in range(1, steps + 1):
        h = _walk_hash_sql("f.r", t, "f.cur")
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT f.start, f.r, a.prev AS cur"
            f" FROM w{t - 1} f JOIN indegs d ON f.cur = d.node"
            f" JOIN radj a ON a.node = f.cur"
            f" AND a.pos = ({h}) % d.indeg + 1)"
        )
        selects.append(f"SELECT start, r, {t} AS t, cur AS pos FROM w{t}")
    walks = "\nUNION ALL ".join(selects)
    contrib = "CASE tau " + " ".join(
        f"WHEN {tt} THEN {c_num**tt * c_den ** (steps - tt)}"
        for tt in range(1, steps + 1)
    ) + " END"
    denom = replicates * c_den**steps
    ctes.append(f"walks AS MATERIALIZED ({walks})")
    ctes.append(
        "taus AS (SELECT p.u, p.v, wa.r, min(wa.t) AS tau"
        " FROM prs p JOIN walks wa ON wa.start = p.u"
        " JOIN walks wb ON wb.start = p.v AND wb.r = wa.r AND wb.t = wa.t"
        " AND wb.pos = wa.pos"
        " GROUP BY p.u, p.v, wa.r)"
    )
    ctes.append(
        f"sc AS (SELECT u, v, sum({contrib}) AS w FROM taus GROUP BY u, v)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT p.u, p.v, round(coalesce(sc.w, 0) / {denom}.0, {ROUND})"
        " AS simrank FROM prs p LEFT JOIN sc ON p.u = sc.u AND p.v = sc.v"
    )


def topic_pagerank_web_sql(
    iters: int = 5, d: float = PR_DAMPING, n_topics: int = 3, seed_mod: int = 40
) -> str:
    """(topic, id, rank) batched topic-sensitive PageRank — mirror of
    operators/topicrank.py::topic_sensitive_pagerank with topic t seeded
    uniformly on {id % seed_mod == t}: dense unrolled per-topic PPR
    (teleport + dangling follow p_t, ranks init at p_t) filtered to
    pr > 0 at the end (identical support to the sparse Spark frame — a
    dense zero stays an exact 0.0 through every iteration)."""
    tvals = ", ".join(f"({t})" for t in range(n_topics))
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "verts AS (SELECT id FROM v)",
        f"tl(t) AS (VALUES {tvals})",
        f"sc AS (SELECT tl.t AS topic, count(*) AS c FROM verts vv, tl"
        f" WHERE vv.id % {seed_mod} = tl.t GROUP BY tl.t)",
        f"pvec AS MATERIALIZED (SELECT sc.topic, vv.id,"
        f" CASE WHEN vv.id % {seed_mod} = sc.topic THEN 1.0 / sc.c ELSE 0.0 END AS p"
        f" FROM verts vv, sc)",
        "wout AS MATERIALIZED (SELECT src AS id, sum(weight) AS w_out"
        " FROM edges GROUP BY src)",
        "en AS MATERIALIZED (SELECT e.src, e.dst, e.weight / w.w_out AS w_norm"
        " FROM edges e JOIN wout w ON e.src = w.id)",
        "r0 AS MATERIALIZED (SELECT topic, id, p AS pr FROM pvec)",
    ]
    for k in range(1, iters + 1):
        p, c = f"r{k - 1}", f"r{k}"
        ctes.append(
            f"d{k} AS (SELECT r.topic, coalesce(sum(r.pr), 0.0) AS dang FROM {p} r"
            f" LEFT JOIN wout w ON r.id = w.id WHERE w.id IS NULL GROUP BY r.topic)"
        )
        ctes.append(
            f"g{k} AS (SELECT r.topic, en.dst AS id, sum(r.pr * en.w_norm) AS gather"
            f" FROM {p} r JOIN en ON r.id = en.src GROUP BY r.topic, en.dst)"
        )
        ctes.append(
            f"{c} AS MATERIALIZED (SELECT pv.topic, pv.id,"
            f" {1.0 - d} * pv.p + {d} * coalesce(d{k}.dang, 0.0) * pv.p"
            f" + {d} * coalesce(g{k}.gather, 0.0) AS pr"
            f" FROM pvec pv"
            f" LEFT JOIN g{k} ON pv.topic = g{k}.topic AND pv.id = g{k}.id"
            f" LEFT JOIN d{k} ON pv.topic = d{k}.topic)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT topic, id, round(pr, {ROUND}) AS rank FROM r{iters} WHERE pr > 0"
    )


def structdup_web_sql(
    k: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
    min_jaccard: float = 0.5,
) -> str:
    """(a, b, jaccard) structural near-duplicate pairs — mirror of
    operators/structdup.py::structural_dup_pairs: k portable-hash mins per
    out-neighbour set (the same _walk_hash_sql(j, 0, dst)), banded string
    bucket keys, bucket-size cap, exact neighbour-set Jaccard verify."""
    assert k % bands == 0
    rows = k // bands
    mins = ", ".join(
        f"min({_walk_hash_sql(str(j), 0, 'dst')}) AS h{j}" for j in range(k)
    )
    band_selects = "\nUNION ALL ".join(
        "SELECT {b} AS band, ".format(b=b)
        + " || '_' || ".join(f"CAST(h{b * rows + r} AS VARCHAR)" for r in range(rows))
        + " AS key, id FROM sig"
        for b in range(bands)
    )
    return f"""WITH {WEB_EDGES_CTE.strip()},
 e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
 sig AS MATERIALIZED (SELECT src AS id, {mins} FROM e GROUP BY src),
 buckets AS MATERIALIZED ({band_selects}),
 okb AS (SELECT band, key FROM buckets GROUP BY band, key
         HAVING count(*) <= {max_bucket}),
 bk AS (SELECT b.band, b.key, b.id FROM buckets b JOIN okb
        ON b.band = okb.band AND b.key = okb.key),
 cand AS MATERIALIZED (SELECT DISTINCT x.id AS a, y.id AS b
        FROM bk x JOIN bk y ON x.band = y.band AND x.key = y.key
        WHERE x.id < y.id),
 deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
 inter AS (SELECT c.a, c.b, count(*) AS cn
           FROM cand c JOIN e ea ON ea.src = c.a
                       JOIN e eb ON eb.src = c.b AND eb.dst = ea.dst
           GROUP BY c.a, c.b),
 j AS (SELECT c.a, c.b,
              coalesce(i.cn, 0) * 1.0
              / (da.deg + db.deg - coalesce(i.cn, 0)) AS jac
       FROM cand c
       LEFT JOIN inter i ON c.a = i.a AND c.b = i.b
       JOIN deg da ON c.a = da.id JOIN deg db ON c.b = db.id)
SELECT a, b, round(jac, {ROUND}) AS jaccard FROM j WHERE jac >= {min_jaccard}"""


def push_ppr_web_sql(
    alpha: float = 0.15,
    rounds: int = 6,
    seed_mod: int = 200,
) -> str:
    """(id, p, r) batched forward-push PPR state — mirror of
    operators/pushppr.py::forward_push_ppr with eps=0 (threshold-free:
    the active rule is r > 0, identical across engines; see the operator
    docstring) and uniform seeds {id % seed_mod == 0}."""
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "c AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,"
        " greatest(src, dst) AS b FROM edges WHERE src <> dst)",
        "adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM c"
        " UNION ALL SELECT b, a FROM c)",
        "dg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM adj GROUP BY src)",
        f"sd AS (SELECT id FROM v WHERE id % {seed_mod} = 0)",
        "ns AS (SELECT count(*) AS cnt FROM sd)",
        "s0 AS MATERIALIZED (SELECT sd.id, 0.0 AS p, 1.0 / ns.cnt AS r FROM sd, ns)",
    ]
    for k in range(1, rounds + 1):
        p, c = f"s{k - 1}", f"s{k}"
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT s.id, s.p, s.r,"
            f" coalesce(d.deg, 0) AS deg, s.r > 0 AS act"
            f" FROM {p} s LEFT JOIN dg d ON s.id = d.id)"
        )
        ctes.append(
            f"m{k} AS MATERIALIZED (SELECT adj.dst AS id,"
            f" sum({1.0 - alpha} * a.r / a.deg) AS gain"
            f" FROM a{k} a JOIN adj ON a.id = adj.src"
            f" WHERE a.act AND a.deg > 0 GROUP BY adj.dst)"
        )
        ctes.append(
            f"{c} AS MATERIALIZED (SELECT coalesce(a.id, m.id) AS id,"
            f" coalesce(CASE WHEN a.act THEN a.p +"
            f" CASE WHEN a.deg = 0 THEN a.r ELSE {alpha} * a.r END"
            f" ELSE a.p END, 0.0) AS p,"
            f" coalesce(CASE WHEN a.act THEN 0.0 ELSE a.r END, 0.0)"
            f" + coalesce(m.gain, 0.0) AS r"
            f" FROM a{k} a FULL OUTER JOIN m{k} m ON a.id = m.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, round(p, {ROUND}) AS p, round(r, {ROUND}) AS r"
        f" FROM s{rounds} WHERE p > 0 OR r > 0"
    )


def leiden_block_sql() -> str:
    """Quality + connectivity oracle for the refined partition
    (operators/leiden.py): same planted-partition modularity bar as
    louvain_block_sql, plus all_connected=true — the Spark side computes
    whether every community is a single connected part; the refinement's
    guarantee is that it always is."""
    body = modularity_block_sql()
    return (
        f"SELECT q.modularity AS q_known, TRUE AS quality_ok,"
        f" TRUE AS all_connected FROM ({body}) q"
    )


def hitting_time_web_sql(horizon: int = 6, target_mod: int = 100) -> str:
    """(id, h) truncated hitting time — mirror of
    operators/hitting.py::truncated_hitting_time with targets
    {id % target_mod == 0}, rounds unrolled (value iteration needs
    exactly `horizon` rounds for the horizon-T fixpoint)."""
    T = float(horizon)
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "od AS MATERIALIZED (SELECT src AS id, count(*) AS deg"
        " FROM edges GROUP BY src)",
        f"b AS MATERIALIZED (SELECT v.id, v.id % {target_mod} = 0 AS is_t,"
        f" coalesce(od.deg, 0) AS deg FROM v LEFT JOIN od USING (id))",
        f"h0 AS MATERIALIZED (SELECT id,"
        f" CASE WHEN is_t THEN 0.0 ELSE {T} END AS h FROM b)",
    ]
    for k in range(1, horizon + 1):
        ctes.append(
            f"n{k} AS MATERIALIZED (SELECT e.src AS id, sum(h.h) AS sh"
            f" FROM edges e JOIN h{k - 1} h ON e.dst = h.id GROUP BY e.src)"
        )
        ctes.append(
            f"h{k} AS MATERIALIZED (SELECT b.id,"
            f" CASE WHEN b.is_t THEN 0.0"
            f" WHEN b.deg > 0 THEN least({T}, 1.0 + n.sh / b.deg)"
            f" ELSE {T} END AS h"
            f" FROM b LEFT JOIN n{k} n USING (id))"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, round(h, {ROUND}) AS h FROM h{horizon}"
    )


def core_track_web_sql(rounds: int = 14) -> str:
    """Core-shell tracking across the base→recrawl snapshot pair — mirror
    of operators/tracking.py::track_partitions over two coreness
    labelings (two nested unrolled h-index chains, the rank_drift
    nesting pattern)."""
    ca = coreness_web_sql(rounds)
    cb = coreness_web_sql(rounds, edges_cte=_recrawl_edges_cte())
    return f"""WITH a AS ({ca}),
 b AS ({cb}),
 ov AS (SELECT a.core AS c0, b.core AS c1, count(*) AS overlap
        FROM a JOIN b USING (id) GROUP BY 1, 2),
 s0 AS (SELECT core AS c0, count(*) AS size0 FROM a GROUP BY 1),
 s1 AS (SELECT core AS c1, count(*) AS size1 FROM b GROUP BY 1)
SELECT ov.c0, ov.c1, CAST(ov.overlap AS BIGINT) AS overlap,
       CAST(s0.size0 AS BIGINT) AS size0, CAST(s1.size1 AS BIGINT) AS size1,
       round(ov.overlap * 1.0 / (s0.size0 + s1.size1 - ov.overlap),
             {ROUND}) AS jaccard
FROM ov JOIN s0 USING (c0) JOIN s1 USING (c1)"""


def cascade_web_sql(
    theta_num: int = 1,
    theta_den: int = 3,
    rounds: int = 6,
    seed_mod: int = 50,
) -> str:
    """(id, r) deterministic linear-threshold cascade — mirror of
    operators/cascade.py::linear_threshold_cascade with seeds
    {id % seed_mod == 0}; recomputes the active-in-neighbor count
    against a_{k-1} each unrolled round (arithmetically identical to
    the Spark side's delta accumulation)."""
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "ind AS MATERIALIZED (SELECT dst AS id, count(*) AS indeg"
        " FROM edges GROUP BY dst)",
        f"a0 AS MATERIALIZED (SELECT id, 0 AS r FROM v WHERE id % {seed_mod} = 0)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"c{k} AS MATERIALIZED (SELECT e.dst AS id, count(*) AS c"
            f" FROM edges e JOIN a{k - 1} a ON e.src = a.id GROUP BY e.dst)"
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT id, r FROM a{k - 1}"
            f" UNION ALL"
            f" SELECT c.id, {k} AS r FROM c{k} c"
            f" JOIN ind ON c.id = ind.id"
            f" LEFT JOIN a{k - 1} p ON c.id = p.id"
            f" WHERE p.id IS NULL"
            f" AND c.c * {theta_den} >= ind.indeg * {theta_num})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CAST(r AS INT) AS r FROM a{rounds}"
    )


def spreading_web_sql(
    alpha: float = 0.8,
    iters: int = 5,
    seed_mod: int = 50,
    n_classes: int = 3,
) -> str:
    """(cls, id, f) label-spreading scores — mirror of
    operators/spreading.py::label_spreading with seeds
    {id % seed_mod == 0}, cls = id % n_classes, unrolled; the sparse
    support matches because every materialized score is a sum of
    strictly positive terms."""
    a, b = alpha, 1.0 - alpha
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "cu AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,"
        " greatest(src, dst) AS b FROM edges WHERE src <> dst)",
        "adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM cu"
        " UNION ALL SELECT b, a FROM cu)",
        "dg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM adj GROUP BY src)",
        "se AS MATERIALIZED (SELECT a.src, a.dst,"
        " 1.0 / sqrt(d1.deg * d2.deg) AS w FROM adj a"
        " JOIN dg d1 ON a.src = d1.id JOIN dg d2 ON a.dst = d2.id)",
        f"y AS MATERIALIZED (SELECT id % {n_classes} AS cls, id, 1.0 AS y"
        f" FROM v WHERE id % {seed_mod} = 0)",
        "f0 AS MATERIALIZED (SELECT cls, id, y AS f FROM y)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"g{k} AS MATERIALIZED (SELECT p.cls, se.dst AS id,"
            f" sum(p.f * se.w) AS sf FROM f{k - 1} p"
            f" JOIN se ON p.id = se.src GROUP BY p.cls, se.dst)"
        )
        ctes.append(
            f"f{k} AS MATERIALIZED (SELECT"
            f" coalesce(g.cls, y.cls) AS cls, coalesce(g.id, y.id) AS id,"
            f" {a} * coalesce(g.sf, 0.0) + {b} * coalesce(y.y, 0.0) AS f"
            f" FROM g{k} g FULL OUTER JOIN y"
            f" ON g.cls = y.cls AND g.id = y.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT cls, id, round(f, {ROUND}) AS f FROM f{iters} WHERE f > 0"
    )


def bloom_seen_sql(seen_mod: int = 2, m_bits: int = 1 << 16, k: int = 4) -> str:
    """Mirror of operators/bloom.py::bloom_membership — identical portable
    hash family (ANF constants), identical 31-bit word layout, so false
    positives match bit-for-bit."""
    from graphina_spark.operators.bloom import WORD_BITS
    from graphina_spark.operators.distmetrics import ANF_A, ANF_B, ANF_P

    vals = ", ".join(f"({j}, {ANF_A[j]}, {ANF_B[j]})" for j in range(k))
    mask = f"(1::BIGINT << CAST(bit % {WORD_BITS} AS INT))"
    return f"""WITH {WEB_EDGES_CTE.strip()},
 hx AS (SELECT id, j, a, b, ((id + 1) * a + b) % {ANF_P} AS h1
        FROM v CROSS JOIN (VALUES {vals}) AS t(j, a, b)),
 h2t AS (SELECT id, j, b, (h1 * h1 + a) % {ANF_P} AS h2 FROM hx),
 bits AS (SELECT id, j, ((h2 * h2 + b) % {ANF_P}) % {m_bits} AS bit FROM h2t),
 words AS (SELECT CAST(floor(bit / {WORD_BITS}) AS BIGINT) AS word_idx,
                  bit_or({mask}) AS word
           FROM bits WHERE id % {seen_mod} = 0 GROUP BY 1),
 probe AS (SELECT b.id,
                  (coalesce(w.word, 0) & {mask}) <> 0 AS st
           FROM bits b LEFT JOIN words w
             ON CAST(floor(b.bit / {WORD_BITS}) AS BIGINT) = w.word_idx)
SELECT id, id % {seen_mod} = 0 AS member, bool_and(st) AS hit
FROM probe GROUP BY id"""


def topo_layers_sql(rounds: int = 12) -> str:
    """Mirror of operators/topo.py::topo_layers — same id-oriented DAG,
    same synchronous longest-path DP, K unrolled rounds (MATERIALIZED:
    each round references the previous twice)."""
    parts = [
        WEB_EDGES_CTE.strip(),
        "dag AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS src,"
        " greatest(src, dst) AS dst FROM edges WHERE src <> dst)",
        "l0 AS MATERIALIZED (SELECT id, 0 AS layer FROM v)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT l.id,"
            f" CAST(greatest(l.layer, coalesce(g.cand, 0)) AS INT) AS layer"
            f" FROM l{k-1} l LEFT JOIN (SELECT d.dst AS id,"
            f" max(p.layer) + 1 AS cand FROM dag d JOIN l{k-1} p"
            f" ON d.src = p.id GROUP BY d.dst) g ON l.id = g.id)"
        )
    return (
        "WITH " + ",\n ".join(parts) + f"\nSELECT id, layer FROM l{rounds}"
    )


_ESUP_CTE = """
 esup AS (
   SELECT c.src, c.dst, coalesce(s.t, 0) AS support
   FROM canon c LEFT JOIN (
     SELECT src, dst, count(*) AS t FROM (
       SELECT least(a, b) AS src, greatest(a, b) AS dst FROM tris
       UNION ALL SELECT least(b, c), greatest(b, c) FROM tris
       UNION ALL SELECT least(a, c), greatest(a, c) FROM tris) u
     GROUP BY src, dst) s ON c.src = s.src AND c.dst = s.dst)"""


def forman_web_sql() -> str:
    """Mirror of operators/egonet.py::forman_curvature — integer-exact
    augmented Forman curvature per canonical undirected simple edge."""
    return f"""WITH {WEB_EDGES_CTE.strip()},{_TRI_CTES},{_ESUP_CTE}
SELECT e.src, e.dst,
       CAST(4 - da.deg - db.deg + 3 * e.support AS BIGINT) AS curvature
FROM esup e JOIN cdeg da ON e.src = da.id JOIN cdeg db ON e.dst = db.id"""


def embeddedness_web_sql() -> str:
    """Mirror of operators/egonet.py::edge_embeddedness (cn integer-exact,
    overlap = cn / (du + dv - 2 - cn) rounded)."""
    return f"""WITH {WEB_EDGES_CTE.strip()},{_TRI_CTES},{_ESUP_CTE}
SELECT e.src, e.dst, CAST(e.support AS BIGINT) AS cn,
       round(CASE WHEN da.deg + db.deg - 2 - e.support > 0
                  THEN e.support / CAST(da.deg + db.deg - 2 - e.support AS DOUBLE)
                  ELSE 0.0 END, {ROUND}) AS overlap
FROM esup e JOIN cdeg da ON e.src = da.id JOIN cdeg db ON e.dst = db.id"""


def ego_stats_web_sql() -> str:
    """Mirror of operators/egonet.py::ego_stats (scan statistic, Burt
    effective size / efficiency) over deg >= 1 vertices."""
    return f"""WITH {WEB_EDGES_CTE.strip()},{_TRI_CTES}
SELECT d.id, CAST(d.deg AS BIGINT) AS deg,
       CAST(coalesce(p.t, 0) AS BIGINT) AS tri,
       CAST(d.deg + coalesce(p.t, 0) AS BIGINT) AS scan1,
       round(d.deg - 2.0 * coalesce(p.t, 0) / d.deg, {ROUND}) AS effective_size,
       round((d.deg - 2.0 * coalesce(p.t, 0) / d.deg) / d.deg, {ROUND})
         AS efficiency
FROM cdeg d LEFT JOIN percnt p ON d.id = p.id"""


def burt_web_sql() -> str:
    """Mirror of operators/egonet.py::burt_constraint — unweighted Burt
    network constraint; the indirect term enumerates the 6 ordered roles of
    each triangle exactly as the Spark corner join does."""
    return f"""WITH {WEB_EDGES_CTE.strip()},{_TRI_CTES},
 perms AS (
   SELECT a AS i, b AS j, c AS q FROM tris UNION ALL
   SELECT b, a, c FROM tris UNION ALL
   SELECT a, c, b FROM tris UNION ALL
   SELECT c, a, b FROM tris UNION ALL
   SELECT b, c, a FROM tris UNION ALL
   SELECT c, b, a FROM tris),
 ind AS (
   SELECT p.i, p.j, sum(1.0 / (di.deg * dq.deg)) AS ind
   FROM perms p JOIN cdeg di ON p.i = di.id JOIN cdeg dq ON p.q = dq.id
   GROUP BY p.i, p.j),
 adj AS (SELECT src AS i, dst AS j FROM canon
         UNION ALL SELECT dst, src FROM canon),
 per_pair AS (
   SELECT a.i,
          pow(1.0 / di.deg + coalesce(ind.ind, 0.0), 2) AS c_ij
   FROM adj a JOIN cdeg di ON a.i = di.id
   LEFT JOIN ind ON a.i = ind.i AND a.j = ind.j)
SELECT i AS id, round(sum(c_ij), {ROUND}) AS burt_c
FROM per_pair GROUP BY i"""


def backbone_web_sql(alpha_cut: float = 0.5) -> str:
    """Mirror of operators/egonet.py::disparity_backbone (Serrano et al.
    2009 disparity filter on the directed weighted out-side)."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 stats AS (SELECT src, count(*) AS k, sum(weight) AS s
           FROM edges GROUP BY src)
SELECT e.src, e.dst,
       round(pow(1.0 - e.weight / st.s, st.k - 1), {ROUND}) AS alpha
FROM edges e JOIN stats st ON e.src = st.src
WHERE st.k > 1 AND pow(1.0 - e.weight / st.s, st.k - 1) < {alpha_cut}"""


def sage_agg_web_sql(k: int = 3) -> str:
    """Mirror of operators/gnnprep.py::sage_neighbor_mean over the web graph
    + embeddings table.  Single-window top-k (selection under a total order
    equals the Spark side's two-phase form); float32 upcast to DOUBLE before
    avg so the ≤k-term mean is exact in both engines.  `+ 0.0` collapses
    IEEE −0.0 to +0.0 (a tiny negative mean rounds to signed zero, which is
    numerically equal but byte-hashes differently across engines) — the
    engine side applies the same normalization at the gate boundary."""
    from graphina_spark.operators.approximation import PRI_A1, PRI_A2, PRI_B
    from graphina_spark.operators.distmetrics import ANF_P

    return f"""WITH {WEB_EDGES_CTE.strip()},
 nv AS (SELECT count(*) AS n FROM embeddings),
 und AS (SELECT DISTINCT src, dst FROM (
     SELECT src, dst FROM edges WHERE src <> dst
     UNION ALL SELECT dst, src FROM edges WHERE src <> dst)),
 h1t AS (SELECT src, dst,
         (src * {PRI_A1} + dst + {PRI_B}) % {ANF_P} AS h1 FROM und),
 h2t AS (SELECT src, dst, (h1 * h1 + {PRI_A1}) % {ANF_P} AS h2 FROM h1t),
 h3t AS (SELECT src, dst, (h2 * h2 + {PRI_A2}) % {ANF_P} AS h FROM h2t),
 rk AS (SELECT src, dst,
        row_number() OVER (PARTITION BY src ORDER BY h, dst) AS r FROM h3t),
 samp AS (SELECT src, dst FROM rk WHERE r <= {k}),
 fx AS (SELECT s.src AS id,
               generate_subscripts(e.embedding, 1) - 1 AS pos,
               unnest(CAST(e.embedding AS DOUBLE[])) AS val
        FROM samp s JOIN embeddings e
          ON e.vec_id = s.dst % (SELECT n FROM nv))
SELECT id, CAST(pos AS INT) AS pos,
       round(avg(val), {ROUND}) + 0.0 AS mean_val,
       count(*) AS n_sampled
FROM fx GROUP BY id, pos"""


def s_core_web_sql(s: float = 20.0, rounds: int = 12) -> str:
    """Unrolled synchronous s-core (weighted k-core) peeling — mirror of
    operators/kcore.py::s_core with fixed_rounds=rounds.  Pair weights merge
    by SUM before peeling; integer-valued weights keep every strength exact
    in double, so the survival sets are bit-identical across engines."""
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "cew AS MATERIALIZED (SELECT least(src, dst) AS a, greatest(src, dst)"
        " AS b, sum(weight) AS w FROM edges WHERE src <> dst GROUP BY 1, 2)",
        "symw AS MATERIALIZED (SELECT a AS u, b AS v, w FROM cew"
        " UNION ALL SELECT b, a, w FROM cew)",
        "a0 AS (SELECT id FROM v)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"st{r} AS MATERIALIZED (SELECT s.u AS id, sum(s.w) AS c FROM symw s"
            f" JOIN a{r - 1} x ON s.u = x.id"
            f" JOIN a{r - 1} y ON s.v = y.id GROUP BY s.u)"
        )
        ctes.append(f"a{r} AS MATERIALIZED (SELECT id FROM st{r} WHERE c >= {s})")
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id FROM a{rounds}"


def khop_frontier_web_sql(k1: int = 3, k2: int = 2) -> str:
    """Mirror of operators/gnnprep.py::sample_khop_frontier — both hop
    samples are prefixes of the SAME per-vertex (hash, dst) ranking, so one
    window serves both."""
    from graphina_spark.operators.approximation import PRI_A1, PRI_A2, PRI_B
    from graphina_spark.operators.distmetrics import ANF_P

    return f"""WITH {WEB_EDGES_CTE.strip()},
 und AS (SELECT DISTINCT src, dst FROM (
     SELECT src, dst FROM edges WHERE src <> dst
     UNION ALL SELECT dst, src FROM edges WHERE src <> dst)),
 h1t AS (SELECT src, dst,
         (src * {PRI_A1} + dst + {PRI_B}) % {ANF_P} AS h1 FROM und),
 h2t AS (SELECT src, dst, (h1 * h1 + {PRI_A1}) % {ANF_P} AS h2 FROM h1t),
 h3t AS (SELECT src, dst, (h2 * h2 + {PRI_A2}) % {ANF_P} AS h FROM h2t),
 rk AS (SELECT src, dst,
        row_number() OVER (PARTITION BY src ORDER BY h, dst) AS r FROM h3t),
 s1 AS (SELECT src, dst FROM rk WHERE r <= {k1}),
 s2 AS (SELECT src, dst FROM rk WHERE r <= {k2})
SELECT src AS root, 1 AS hop, src, dst FROM s1
UNION ALL
SELECT f.src AS root, 2 AS hop, s.src, s.dst
FROM s1 f JOIN s2 s ON s.src = f.dst"""


def _config_model_ctes(seed: int) -> str:
    """Shared CTE chain reconstructing the configuration-model draw (see
    config_model_web_sql) up to ``pairs`` (u, v) stub pairings."""
    from graphina_spark.operators.approximation import PRI_A1, PRI_A2, PRI_B
    from graphina_spark.operators.distmetrics import ANF_P

    b = PRI_B + seed * PRI_A2
    return f"""{WEB_EDGES_CTE.strip()},
 canon AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
           FROM edges WHERE src <> dst),
 cdeg AS (SELECT id, count(*) AS deg FROM (
            SELECT src AS id FROM canon UNION ALL SELECT dst FROM canon) u
          GROUP BY id),
 stubs AS (SELECT id, unnest(range(deg)) AS stub FROM cdeg),
 h1t AS (SELECT id, stub, (id * {PRI_A1} + stub + {b}) % {ANF_P} AS h1 FROM stubs),
 h2t AS (SELECT id, stub, (h1 * h1 + {PRI_A1}) % {ANF_P} AS h2 FROM h1t),
 h3t AS (SELECT id, stub, (h2 * h2 + {PRI_A2}) % {ANF_P} AS h FROM h2t),
 rk AS (SELECT id, row_number() OVER (ORDER BY h, id, stub) - 1 AS r FROM h3t),
 pairs AS (SELECT a.id AS u, b.id AS v
           FROM rk a JOIN rk b
             ON a.r // 2 = b.r // 2 AND a.r % 2 = 0 AND b.r % 2 = 1)"""


def config_model_web_sql(seed: int = 0) -> str:
    """Mirror of operators/nullmodel.py::configuration_model — one window
    replaces the two-pass prefix sum (selection under the same total order
    (h, id, stub) is identical)."""
    return f"""WITH {_config_model_ctes(seed)}
SELECT least(u, v) AS src, greatest(u, v) AS dst, count(*) AS multiplicity
FROM pairs GROUP BY 1, 2"""


def null_delta_web_sql(seed: int = 0) -> str:
    """Mirror of operators/nullmodel.py::assortativity_null_delta — Pearson
    degree assortativity (simple undirected projection) vs the same metric
    on the seed-``seed`` configuration-model draw; integer-exact moments."""
    return f"""WITH {_config_model_ctes(seed)},
 ne AS (SELECT least(u, v) AS src, greatest(u, v) AS dst,
               count(*) AS m FROM pairs GROUP BY 1, 2),
 rsym AS (SELECT src, dst, 1 AS m FROM canon
          UNION ALL SELECT dst, src, 1 FROM canon),
 nsym AS (SELECT src, dst, m FROM ne UNION ALL SELECT dst, src, m FROM ne),
 rj AS (SELECT dj.deg AS j, dk.deg AS k, s.m FROM rsym s
        JOIN cdeg dj ON s.src = dj.id JOIN cdeg dk ON s.dst = dk.id),
 nj AS (SELECT dj.deg AS j, dk.deg AS k, s.m FROM nsym s
        JOIN cdeg dj ON s.src = dj.id JOIN cdeg dk ON s.dst = dk.id),
 rs AS (SELECT sum(m) AS n, sum(m*j) AS sx, sum(m*j*j) AS sxx,
               sum(m*j*k) AS sxy FROM rj),
 ns AS (SELECT sum(m) AS n, sum(m*j) AS sx, sum(m*j*j) AS sxx,
               sum(m*j*k) AS sxy FROM nj),
 rr AS (SELECT (sxy/n - (sx/n)*(sx/n)) / (sxx/n - (sx/n)*(sx/n)) AS r FROM rs),
 nr AS (SELECT (sxy/n - (sx/n)*(sx/n)) / (sxx/n - (sx/n)*(sx/n)) AS r FROM ns)
SELECT round(rr.r, {ROUND}) AS real_r, round(nr.r, {ROUND}) AS null_r,
       round(rr.r - nr.r, {ROUND}) AS delta
FROM rr, nr"""


def balanced_part_web_sql(k: int = 8, rounds: int = 4, slack_pct: int = 10) -> str:
    """Mirror of operators/balance.py::balanced_partition — unrolled
    capacity-constrained balanced-LPA rounds (MATERIALIZED: every round
    references the previous partition frame four times)."""
    from graphina_spark.operators.approximation import PRI_A1, PRI_A2, PRI_B
    from graphina_spark.operators.distmetrics import ANF_P

    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        "SELECT src, dst FROM edges WHERE src <> dst"
        " UNION ALL SELECT dst, src FROM edges WHERE src <> dst))",
        "nn3 AS (SELECT count(*) AS n FROM v)",
        f"capt AS (SELECT (n * {100 + slack_pct} + {100 * k} - 1) // {100 * k}"
        f" AS cap FROM nn3)",
        f"p0 AS MATERIALIZED (SELECT id, id % {k} AS part FROM v)",
    ]
    for r in range(1, rounds + 1):
        prev, pri_r = f"p{r - 1}", r - 1
        b = pri_r * PRI_A2 + PRI_B
        ctes.append(
            f"cnt{r} AS MATERIALIZED (SELECT s.src AS id, p.part AS p, count(*) AS c"
            f" FROM sym s JOIN {prev} p ON s.dst = p.id GROUP BY 1, 2)"
        )
        ctes.append(
            f"best{r} AS MATERIALIZED (SELECT id, p AS best, c AS cbest FROM ("
            f"SELECT id, p, c, row_number() OVER (PARTITION BY id"
            f" ORDER BY c DESC, p ASC) AS rn FROM cnt{r}) WHERE rn = 1)"
        )
        ctes.append(
            f"cur{r} AS MATERIALIZED (SELECT pp.id, pp.part,"
            f" coalesce(cc.c, 0) AS ccur FROM {prev} pp"
            f" LEFT JOIN cnt{r} cc ON pp.id = cc.id AND pp.part = cc.p)"
        )
        ctes.append(
            f"cand{r} AS MATERIALIZED (SELECT cur.id, cur.part, b.best,"
            f" b.cbest - cur.ccur AS gain,"
            f" (((((cur.id * {PRI_A1} + {b}) % {ANF_P})"
            f" * ((cur.id * {PRI_A1} + {b}) % {ANF_P}) + {PRI_A1}) % {ANF_P})"
            f" * ((((cur.id * {PRI_A1} + {b}) % {ANF_P})"
            f" * ((cur.id * {PRI_A1} + {b}) % {ANF_P}) + {PRI_A1}) % {ANF_P})"
            f" + {PRI_A2}) % {ANF_P} AS pri"
            f" FROM cur{r} cur JOIN best{r} b ON cur.id = b.id"
            f" WHERE b.best <> cur.part AND b.cbest > cur.ccur)"
        )
        ctes.append(
            f"sz{r} AS MATERIALIZED (SELECT part, count(*) AS sz FROM {prev}"
            f" GROUP BY part)"
        )
        ctes.append(
            f"qt{r} AS MATERIALIZED (SELECT t.pt AS best,"
            f" greatest(0, capt.cap - coalesce(s.sz, 0)) AS q"
            f" FROM (SELECT unnest(range({k})) AS pt) t"
            f" LEFT JOIN sz{r} s ON t.pt = s.part, capt)"
        )
        ctes.append(
            f"acc{r} AS MATERIALIZED (SELECT id, best FROM ("
            f"SELECT c.id, c.best, q.q, row_number() OVER (PARTITION BY c.best"
            f" ORDER BY c.gain DESC, c.pri ASC, c.id ASC) AS rn"
            f" FROM cand{r} c JOIN qt{r} q ON c.best = q.best) WHERE rn <= q)"
        )
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT pp.id,"
            f" coalesce(a.best, pp.part) AS part FROM {prev} pp"
            f" LEFT JOIN acc{r} a ON pp.id = a.id)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, part FROM p{rounds}"


def part_quality_web_sql(k: int = 8, rounds: int = 4, slack_pct: int = 10) -> str:
    """Cut fraction + balance envelope of the balanced_part_web assignment
    (mirror of operators/balance.py::partition_quality)."""
    base = balanced_part_web_sql(k=k, rounds=rounds, slack_pct=slack_pct)
    ctes = base[len("WITH ") : base.rindex("\nSELECT")]
    return f"""WITH {ctes},
 canonq AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
            FROM edges WHERE src <> dst),
 edq AS (SELECT pa.part AS ps, pb.part AS pd FROM canonq e
         JOIN p{rounds} pa ON e.src = pa.id JOIN p{rounds} pb ON e.dst = pb.id),
 cutq AS (SELECT sum(CASE WHEN ps <> pd THEN 1 ELSE 0 END) AS cut,
                 count(*) AS tot FROM edq),
 szq AS (SELECT max(sz) AS mx, min(sz) AS mn FROM (
           SELECT count(*) AS sz FROM p{rounds} GROUP BY part))
SELECT CAST(cut AS BIGINT) AS cut_edges, CAST(tot AS BIGINT) AS total_edges,
       round(cut / CAST(tot AS DOUBLE), {ROUND}) AS cut_frac,
       CAST(mx AS BIGINT) AS max_size, CAST(mn AS BIGINT) AS min_size
FROM cutq, szq"""


_D2 = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
)


def k_center_embs_sql(k: int = 6, qbits: int = 12) -> str:
    """Mirror of operators/coreset.py::k_center_seeds — unrolled Gonzalez
    farthest-point rounds over the floor(x·2^qbits) integer grid (selection
    is integer arithmetic end to end, bit-exact across engines).  Chosen
    points are removed from the pool each round, mirroring the engine's
    distinct-seed guarantee on degenerate inputs."""
    scale = 1 << qbits
    ctes = [
        "q AS MATERIALIZED (SELECT vec_id, list_transform("
        f"CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * {scale}) AS BIGINT))"
        " AS qv FROM embeddings)",
        "s0 AS (SELECT min(vec_id) AS vid FROM q)",
        "m0 AS MATERIALIZED (SELECT a.vec_id, a.qv, "
        + _D2.format(a="a.qv", b="c.qv")
        + " AS d FROM q a, (SELECT qv FROM q, s0 WHERE vec_id = s0.vid) c"
        " WHERE a.vec_id <> (SELECT vid FROM s0))",
    ]
    sel = ["SELECT 0 AS seed_rank, s0.vid AS vec_id, CAST(0 AS BIGINT) AS d2 FROM s0"]
    for r in range(1, k):
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT vec_id AS vid, d FROM m{r - 1}"
            f" ORDER BY d DESC, vec_id ASC LIMIT 1)"
        )
        sel.append(
            f"SELECT {r} AS seed_rank, vid AS vec_id, CAST(d AS BIGINT) AS d2"
            f" FROM s{r}"
        )
        if r < k - 1:
            ctes.append(
                f"m{r} AS MATERIALIZED (SELECT m.vec_id, m.qv,"
                f" least(m.d, " + _D2.format(a="m.qv", b="c.qv") + ") AS d"
                f" FROM m{r - 1} m,"
                f" (SELECT qv FROM q, s{r} WHERE vec_id = s{r}.vid) c"
                f" WHERE m.vec_id <> (SELECT vid FROM s{r}))"
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sel)


def coreset_assign_embs_sql(k: int = 6, qbits: int = 12) -> str:
    """Mirror of operators/coreset.py::coreset_assign over the
    k_center_embs seeds (nearest seed per vector, ties → smaller seed id)."""
    base = k_center_embs_sql(k=k, qbits=qbits)
    ctes = base[len("WITH ") : base.index("\nSELECT 0 AS seed_rank")]
    unions = base[base.index("SELECT 0 AS seed_rank") :]
    return f"""WITH {ctes},
 seeds AS MATERIALIZED ({unions}),
 sq AS (SELECT s.vec_id AS svid, q.qv AS sv FROM seeds s JOIN q ON q.vec_id = s.vec_id),
 pairs AS (SELECT q.vec_id, sq.svid, {_D2.format(a="q.qv", b="sq.sv")} AS d
           FROM q, sq),
 best AS (SELECT vec_id, svid, d,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, svid ASC)
                   AS rn FROM pairs)
SELECT vec_id, svid AS seed_vec_id, CAST(d AS BIGINT) AS d2
FROM best WHERE rn = 1"""


def motif4_web_sql() -> str:
    """Mirror of operators/motifs.py::four_motif_census — ESCAPE closed
    forms, integer arithmetic end to end (non-induced counts; 4-cycles live
    in squares_web)."""
    return f"""WITH {WEB_EDGES_CTE.strip()},{_TRI_CTES},{_ESUP_CTE},
 degrow AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges,
                   CAST(sum(deg * (deg - 1) * (deg - 2) // 6) AS BIGINT)
                     AS star3 FROM cdeg),
 se AS (SELECT e.support, da.deg AS du, db.deg AS dv FROM esup e
        JOIN cdeg da ON e.src = da.id JOIN cdeg db ON e.dst = db.id),
 erow AS (SELECT CAST(sum((du - 1) * (dv - 1)) AS BIGINT) AS p3raw,
                 CAST(sum(support) AS BIGINT) AS sup_sum,
                 CAST(sum(support * (support - 1) // 2) AS BIGINT) AS diamond
          FROM se),
 trow AS (SELECT CAST(sum(p.t * (d.deg - 2)) AS BIGINT) AS tailed
          FROM percnt p JOIN cdeg d ON p.id = d.id),
 tedges AS (SELECT least(a, b) AS le, greatest(a, b) AS he, c AS w FROM tris
            UNION ALL SELECT least(a, c), greatest(a, c), b FROM tris
            UNION ALL SELECT least(b, c), greatest(b, c), a FROM tris),
 k4p AS (SELECT t1.w AS w1, t2.w AS w2 FROM tedges t1 JOIN tedges t2
         ON t1.le = t2.le AND t1.he = t2.he AND t1.w < t2.w),
 k4row AS (SELECT count(*) AS c6 FROM k4p p
           JOIN canon e ON e.src = least(p.w1, p.w2)
                       AND e.dst = greatest(p.w1, p.w2))
SELECT degrow.wedges, degrow.star3,
       CAST(erow.p3raw - 3 * (erow.sup_sum // 3) AS BIGINT) AS path3,
       CAST(coalesce(trow.tailed, 0) AS BIGINT) AS tailed_tri,
       erow.diamond,
       CAST(k4row.c6 // 6 AS BIGINT) AS k4,
       CAST(erow.sup_sum // 3 AS BIGINT) AS triangles
FROM degrow, erow, trow, k4row"""


def parts_edges_cte(min_count: int = 2, cap: int = 1_000) -> str:
    """Edge derivation CTE for the lineitem co-purchase graph — mirror of
    operators/copurchase.py::copurchase_graph (same names `edges`/`v` as
    WEB_EDGES_CTE so the parameterized kernel oracles compose)."""
    return f"""
 items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
 okv AS (SELECT ok FROM (SELECT ok, count(*) AS c FROM items GROUP BY ok)
         WHERE c <= {cap}),
 kept AS (SELECT i.ok, i.pk FROM items i JOIN okv ON i.ok = okv.ok),
 prs AS (SELECT a.pk AS src, b.pk AS dst, count(*) AS cnt
         FROM kept a JOIN kept b ON a.ok = b.ok AND a.pk < b.pk
         GROUP BY 1, 2 HAVING count(*) >= {min_count}),
 edges AS (SELECT src, dst, CAST(cnt AS DOUBLE) AS weight FROM prs
           UNION ALL SELECT dst, src, CAST(cnt AS DOUBLE) FROM prs),
 v AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS id FROM lineitem)"""


def copurchase_parts_sql(min_count: int = 2, cap: int = 1_000) -> str:
    return f"""WITH {parts_edges_cte(min_count, cap).strip()}
SELECT src, dst, CAST(cnt AS BIGINT) AS cnt FROM prs"""


def _pr_chain(edges_src: str, verts_src: str, pfx: str, iters: int, d: float) -> list[str]:
    """Prefixed unrolled weighted-PageRank CTE chain (same trajectory as
    pagerank_web_sql, parameterized so two graphs coexist in one query;
    per-round rank CTEs MATERIALIZED for the same reason)."""
    ctes = [
        f"{pfx}n AS (SELECT count(*) AS n FROM {verts_src})",
        f"{pfx}wout AS (SELECT src AS id, sum(weight) AS w_out FROM {edges_src}"
        f" GROUP BY src)",
        f"{pfx}en AS (SELECT e.src, e.dst, e.weight / w.w_out AS w_norm"
        f" FROM {edges_src} e JOIN {pfx}wout w ON e.src = w.id)",
        f"{pfx}r0 AS (SELECT id, 1.0 / n AS pr FROM {verts_src}, {pfx}n)",
    ]
    for k in range(1, iters + 1):
        p, c = f"{pfx}r{k - 1}", f"{pfx}r{k}"
        ctes.append(
            f"{pfx}d{k} AS (SELECT coalesce(sum(r.pr), 0.0) AS dang FROM {p} r"
            f" LEFT JOIN {pfx}wout w ON r.id = w.id WHERE w.id IS NULL)"
        )
        ctes.append(
            f"{pfx}g{k} AS (SELECT en.dst AS id, sum(r.pr * en.w_norm) AS gather"
            f" FROM {p} r JOIN {pfx}en en ON r.id = en.src GROUP BY en.dst)"
        )
        ctes.append(
            f"{c} AS MATERIALIZED (SELECT vv.id,"
            f" {1.0 - d} / {pfx}n.n + {d} * {pfx}d{k}.dang / {pfx}n.n"
            f" + {d} * coalesce({pfx}g{k}.gather, 0.0) AS pr"
            f" FROM {verts_src} vv LEFT JOIN {pfx}g{k} ON vv.id = {pfx}g{k}.id,"
            f" {pfx}n, {pfx}d{k})"
        )
    return ctes


def rank_delta_web_sql(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """PageRank before/after the recrawl snapshot — mirror of the
    rank_delta_web gate.  Delta is computed from the 6-dp-ROUNDED ranks on
    both sides (identical doubles → identical subtraction)."""
    from graphina_spark.sources.derived import (
        DANGLING_MOD,
        MULTIPLIERS,
        N_HUBS,
        RECRAWL_NEW,
        RECRAWL_ROT,
    )

    ra, rb, rm = RECRAWL_ROT
    mult_b = "\n      UNION ALL ".join(
        f"SELECT id AS src, (id*{a}+{b}) % n AS dst FROM v, nn"
        for a, b in MULTIPLIERS + [RECRAWL_NEW]
    )
    ctes = [
        WEB_EDGES_CTE.strip(),
        "e0b AS (\n      "
        + mult_b
        + f"\n      UNION ALL SELECT id AS src, id % {N_HUBS} AS dst FROM v\n )",
        f"""edges_b AS (
      SELECT src, dst, CAST((src + dst) % 5 + 1 AS DOUBLE) AS weight
      FROM (SELECT DISTINCT src, dst FROM e0b
            WHERE src <> dst AND src % {DANGLING_MOD} <> 0
              AND (src*{ra} + dst*{rb}) % {rm} <> 0))""",
    ]
    ctes += _pr_chain("edges", "v", "a_", iters, d)
    ctes += _pr_chain("edges_b", "v", "b_", iters, d)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a.id, round(a.pr, {ROUND}) AS pr_old, round(b.pr, {ROUND}) AS pr_new,
       round(round(b.pr, {ROUND}) - round(a.pr, {ROUND}), {ROUND}) AS delta
FROM a_r{iters} a JOIN b_r{iters} b ON a.id = b.id"""
    )


# ------------------------------------------------------- multilevel partition


def _ml_pri_sql(idexpr: str, r: int) -> str:
    """SQL twin of operators/balance.py::_move_pri for round index ``r``."""
    from graphina_spark.operators.approximation import PRI_A1, PRI_A2, PRI_B
    from graphina_spark.operators.distmetrics import ANF_P

    b = r * PRI_A2 + PRI_B
    h1 = f"(({idexpr}) * {PRI_A1} + {b}) % {ANF_P}"
    h2 = f"(({h1}) * ({h1}) + {PRI_A1}) % {ANF_P}"
    return f"((({h2}) * ({h2}) + {PRI_A2}) % {ANF_P})"


def multilevel_part_web_sql(
    k: int = 8,
    coarse_rounds: int = 4,
    refine_rounds: int = 2,
    slack_pct: int = 10,
) -> str:
    """Mirror of operators/multilevel.py::multilevel_partition — heavy-edge
    handshake matching, contraction, ``coarse_rounds`` weight-generalized
    balanced-LPA rounds (edge-weight affinity, fine-vertex-mass quotas via a
    running-sum window), projection, ``refine_rounds`` unweighted fine
    rounds.  Fully unrolled; every frame MATERIALIZED because each round
    reads the previous partition four times."""
    ctes = [
        WEB_EDGES_CTE.strip().replace("edges AS (", "edges AS MATERIALIZED ("),
        "pw AS MATERIALIZED (SELECT least(src, dst) AS s, greatest(src, dst) AS d,"
        " CAST(sum(weight) AS BIGINT) AS w FROM edges WHERE src <> dst"
        " GROUP BY 1, 2)",
        "psym AS MATERIALIZED (SELECT s, d, w FROM pw"
        " UNION ALL SELECT d, s, w FROM pw)",
        "pick AS (SELECT s AS v, d AS u FROM (SELECT s, d, row_number() OVER ("
        "PARTITION BY s ORDER BY w DESC, d ASC) AS rn FROM psym) WHERE rn = 1)",
        "mtch AS (SELECT a.v, a.u FROM pick a JOIN pick b"
        " ON a.u = b.v AND b.u = a.v WHERE a.v < a.u)",
        "mm AS (SELECT v AS id, v AS g FROM mtch"
        " UNION ALL SELECT u AS id, v AS g FROM mtch)",
        "cmap AS MATERIALIZED (SELECT v.id, coalesce(mm.g, v.id) AS grp"
        " FROM v LEFT JOIN mm ON v.id = mm.id)",
        "nwt AS MATERIALIZED (SELECT grp AS id, count(*) AS nw FROM cmap"
        " GROUP BY 1)",
        "ce AS MATERIALIZED (SELECT least(ca.grp, cb.grp) AS s,"
        " greatest(ca.grp, cb.grp) AS d, CAST(sum(pw.w) AS BIGINT) AS w"
        " FROM pw JOIN cmap ca ON pw.s = ca.id JOIN cmap cb ON pw.d = cb.id"
        " WHERE ca.grp <> cb.grp GROUP BY 1, 2)",
        "csym AS MATERIALIZED (SELECT s AS src, d AS dst, w FROM ce"
        " UNION ALL SELECT d, s, w FROM ce)",
        "nn3 AS (SELECT count(*) AS n FROM v)",
        f"capt AS (SELECT (n * {100 + slack_pct} + {100 * k} - 1) // {100 * k}"
        f" AS cap FROM nn3)",
        f"cp0 AS MATERIALIZED (SELECT id, (row_number() OVER ("
        f"ORDER BY nw DESC, id ASC) - 1) % {k} AS part FROM nwt)",
    ]

    def rounds(
        prefix: str, sym: str, wexpr: str, nw_join: bool, n_rounds: int, off: int
    ) -> None:
        for j in range(1, n_rounds + 1):
            prev = f"{prefix}{j - 1}"
            pri = _ml_pri_sql("cur.id", off + j - 1)
            nw_src = "w.nw" if nw_join else "1"
            nw_from = " JOIN nwt w ON cur.id = w.id" if nw_join else ""
            ctes.append(
                f"{prefix}cnt{j} AS MATERIALIZED (SELECT cs.src AS id, p.part AS p,"
                f" CAST(sum({wexpr}) AS BIGINT) AS c FROM {sym} cs"
                f" JOIN {prev} p ON cs.dst = p.id GROUP BY 1, 2)"
            )
            ctes.append(
                f"{prefix}best{j} AS MATERIALIZED (SELECT id, p AS best, c AS cbest"
                f" FROM (SELECT id, p, c, row_number() OVER (PARTITION BY id"
                f" ORDER BY c DESC, p ASC) AS rn FROM {prefix}cnt{j}) WHERE rn = 1)"
            )
            ctes.append(
                f"{prefix}cand{j} AS MATERIALIZED (SELECT cur.id, b.best,"
                f" b.cbest - coalesce(cc.c, 0) AS gain, {pri} AS pri,"
                f" {nw_src} AS nw"
                f" FROM {prev} cur JOIN {prefix}best{j} b ON cur.id = b.id"
                f" LEFT JOIN {prefix}cnt{j} cc"
                f" ON cur.id = cc.id AND cur.part = cc.p{nw_from}"
                f" WHERE b.best <> cur.part AND b.cbest > coalesce(cc.c, 0))"
            )
            sz_expr = (
                f"SELECT p.part, sum(w.nw) AS sz FROM {prev} p"
                f" JOIN nwt w ON p.id = w.id GROUP BY 1"
                if nw_join
                else f"SELECT part, count(*) AS sz FROM {prev} GROUP BY part"
            )
            ctes.append(f"{prefix}sz{j} AS MATERIALIZED ({sz_expr})")
            ctes.append(
                f"{prefix}qt{j} AS MATERIALIZED (SELECT t.pt AS best,"
                f" greatest(0, capt.cap - coalesce(s.sz, 0)) AS q"
                f" FROM (SELECT unnest(range({k})) AS pt) t"
                f" LEFT JOIN {prefix}sz{j} s ON t.pt = s.part, capt)"
            )
            ctes.append(
                f"{prefix}acc{j} AS MATERIALIZED (SELECT id, best FROM ("
                f"SELECT c.id, c.best, q.q, sum(c.nw) OVER (PARTITION BY c.best"
                f" ORDER BY c.gain DESC, c.pri ASC, c.id ASC"
                f" ROWS UNBOUNDED PRECEDING) AS run"
                f" FROM {prefix}cand{j} c JOIN {prefix}qt{j} q ON c.best = q.best)"
                f" WHERE run <= q)"
            )
            ctes.append(
                f"{prefix}{j} AS MATERIALIZED (SELECT pp.id,"
                f" coalesce(a.best, pp.part) AS part FROM {prev} pp"
                f" LEFT JOIN {prefix}acc{j} a ON pp.id = a.id)"
            )

    rounds("cp", "csym", "cs.w", True, coarse_rounds, 0)
    ctes.append(
        f"fp0 AS MATERIALIZED (SELECT cm.id, p.part FROM cmap cm"
        f" JOIN cp{coarse_rounds} p ON cm.grp = p.id)"
    )
    ctes.append("fsym AS MATERIALIZED (SELECT s AS src, d AS dst FROM psym)")
    rounds("fp", "fsym", "1", False, refine_rounds, coarse_rounds)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, part FROM fp{refine_rounds}"
    )


def multilevel_quality_web_sql(
    k: int = 8,
    coarse_rounds: int = 4,
    refine_rounds: int = 2,
    slack_pct: int = 10,
) -> str:
    """Cut fraction + balance envelope of multilevel_part_web (mirror of
    operators/balance.py::partition_quality over the multilevel
    assignment)."""
    base = multilevel_part_web_sql(
        k=k,
        coarse_rounds=coarse_rounds,
        refine_rounds=refine_rounds,
        slack_pct=slack_pct,
    )
    ctes = base[len("WITH ") : base.rindex("\nSELECT")]
    fin = f"fp{refine_rounds}"
    return f"""WITH {ctes},
 canonq AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
            FROM edges WHERE src <> dst),
 edq AS (SELECT pa.part AS ps, pb.part AS pd FROM canonq e
         JOIN {fin} pa ON e.src = pa.id JOIN {fin} pb ON e.dst = pb.id),
 cutq AS (SELECT sum(CASE WHEN ps <> pd THEN 1 ELSE 0 END) AS cut,
                 count(*) AS tot FROM edq),
 szq AS (SELECT max(sz) AS mx, min(sz) AS mn FROM (
           SELECT count(*) AS sz FROM {fin} GROUP BY part))
SELECT CAST(cut AS BIGINT) AS cut_edges, CAST(tot AS BIGINT) AS total_edges,
       round(cut / CAST(tot AS DOUBLE), {ROUND}) AS cut_frac,
       CAST(mx AS BIGINT) AS max_size, CAST(mn AS BIGINT) AS min_size
FROM cutq, szq"""


_PERC_CTES = """
 tre AS (SELECT least(a, b) * 4294967296 + greatest(a, b) AS e1,
                least(b, c) * 4294967296 + greatest(b, c) AS e2,
                least(a, c) * 4294967296 + greatest(a, c) AS e3
         FROM tris),
 psym AS (SELECT e1 AS x, e2 AS y FROM tre UNION SELECT e2, e1 FROM tre
          UNION SELECT e1, e3 FROM tre UNION SELECT e3, e1 FROM tre
          UNION SELECT e2, e3 FROM tre UNION SELECT e3, e2 FROM tre),
 enodes AS (SELECT e1 AS k FROM tre UNION SELECT e2 FROM tre
            UNION SELECT e3 FROM tre),
 preach(k, r) AS (
   SELECT k, k AS r FROM enodes
   UNION
   SELECT s.y AS k, preach.r FROM preach JOIN psym s ON preach.k = s.x),
 pcomp AS (SELECT k, min(r) AS community FROM preach GROUP BY k)"""


def percolation_web_sql() -> str:
    """Twin of operators/percolation.py::triangle_percolation on the web
    graph: recursive-CTE closure over the packed triangle-edge adjacency,
    community = min packed edge key, members = unpacked endpoints."""
    return f"""WITH RECURSIVE {WEB_EDGES_CTE.strip()},{_TRI_CTES},{_PERC_CTES}
SELECT DISTINCT id, community FROM (
  SELECT CAST(k // 4294967296 AS BIGINT) AS id, community FROM pcomp
  UNION ALL
  SELECT CAST(k % 4294967296 AS BIGINT) AS id, community FROM pcomp)"""


def percolation_sizes_web_sql() -> str:
    """Twin of operators/percolation.py::percolation_summary."""
    return f"""WITH RECURSIVE {WEB_EDGES_CTE.strip()},{_TRI_CTES},{_PERC_CTES},
 mem AS (SELECT DISTINCT id, community FROM (
   SELECT CAST(k // 4294967296 AS BIGINT) AS id, community FROM pcomp
   UNION ALL
   SELECT CAST(k % 4294967296 AS BIGINT) AS id, community FROM pcomp)),
 nv AS (SELECT community, count(*) AS n_vertices FROM mem GROUP BY community),
 ne AS (SELECT community, count(*) AS n_edges FROM pcomp GROUP BY community)
SELECT nv.community, CAST(nv.n_vertices AS BIGINT) AS n_vertices,
       CAST(ne.n_edges AS BIGINT) AS n_edges
FROM nv JOIN ne ON nv.community = ne.community"""


def sampled_triangles_sql(frac: float, salt: str = "doulion") -> str:
    """Twin of operators/triangles.py::sampled_triangle_count — identical
    md5 edge coin, degrees recomputed on the sparsified graph, the same
    oriented forward count, estimate = t / frac^3."""
    from graphina_spark.operators.sampling import _hex_threshold

    thr = _hex_threshold(frac)
    return f"""WITH {WEB_EDGES_CTE.strip()},
 canon0 AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
            FROM edges WHERE src <> dst),
 kept AS (SELECT src, dst FROM canon0
          WHERE substr(md5('{salt}:' || CAST(src AS VARCHAR) || ':'
                           || CAST(dst AS VARCHAR)), 1, 8) < '{thr}'),
 kdeg AS (SELECT id, count(*) AS deg FROM
            (SELECT src AS id FROM kept UNION ALL SELECT dst AS id FROM kept) u
          GROUP BY id),
 kdir AS (
   SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.src < c.dst)
               THEN c.src ELSE c.dst END AS s,
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.src < c.dst)
               THEN c.dst ELSE c.src END AS d
   FROM kept c JOIN kdeg da ON c.src = da.id JOIN kdeg db ON c.dst = db.id),
 ktris AS (
   SELECT e1.s AS a, e1.d AS b, e2.d AS c
   FROM kdir e1 JOIN kdir e2 ON e1.d = e2.s
   JOIN kdir e3 ON e3.s = e1.s AND e3.d = e2.d)
SELECT (SELECT count(*) FROM kept) AS sampled_edges,
       (SELECT count(*) FROM ktris) AS sample_triangles,
       round((SELECT count(*) FROM ktris) / ({frac} * {frac} * {frac}), {ROUND})
         AS est_triangles"""


def fastrp_web_sql(
    dims: int = 8,
    iters: int = 3,
    weights: tuple[float, ...] = (0.5, 1.0, 2.0),
    sparsity: int = 3,
    salt: str = "fastrp",
) -> str:
    """Twin of operators/fastrp.py::fastrp_embedding over the web graph:
    identical md5 projection cells (dense zeros included — adding 0.0 never
    changes a double sum), unrolled D^-1 A propagation + per-iterate L2
    normalization, weighted accumulation, 6-dp rounding."""
    from graphina_spark.oracles_text import _md5int

    root = repr(float(sparsity) ** 0.5)
    cell = (
        _md5int(f"'{salt}:' || CAST(v.id AS VARCHAR) || ':' || CAST(d.pos AS VARCHAR)")
        + f" % {2 * sparsity}"
    )
    ctes = [
        WEB_EDGES_CTE.strip(),
        "sym AS (SELECT src, dst FROM edges"
        " UNION ALL SELECT dst AS src, src AS dst FROM edges)",
        "deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src)",
        f"dims AS (SELECT CAST(unnest(range(0, {dims})) AS INT) AS pos)",
        f"x0 AS (SELECT v.id, d.pos, CASE ({cell})"
        f" WHEN 0 THEN {root} WHEN 1 THEN -{root} ELSE 0.0 END AS x"
        f" FROM v CROSS JOIN dims d)",
    ]
    terms = []
    for k in range(1, iters + 1):
        p = f"x{k - 1}"
        ctes.append(
            f"x{k} AS (SELECT s.src AS id, r.pos, sum(r.x) / any_value(g.deg) AS x"
            f" FROM sym s JOIN {p} r ON s.dst = r.id JOIN deg g ON s.src = g.id"
            f" GROUP BY s.src, r.pos)"
        )
        ctes.append(
            f"n{k} AS (SELECT id, sqrt(sum(x * x)) AS nrm FROM x{k} GROUP BY id)"
        )
        terms.append(
            f"SELECT x.id, x.pos, {weights[k - 1]} * x.x / n.nrm AS t"
            f" FROM x{k} x JOIN n{k} n ON x.id = n.id WHERE n.nrm > 0"
        )
    ctes.append("acc AS (SELECT id, pos, sum(t) AS v FROM ("
                + " UNION ALL ".join(terms) + ") u GROUP BY id, pos)")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT v.id, d.pos, round(coalesce(a.v, 0.0), {ROUND}) AS v
FROM v CROSS JOIN dims d
LEFT JOIN acc a ON v.id = a.id AND d.pos = a.pos"""
    )


def onion_web_sql(rounds: int = 18) -> str:
    """Twin of operators/kcore.py::onion_decomposition with
    fixed_rounds=rounds (Hébert-Dufresne 2016): per round the running core
    threshold k rises to max(k, min alive degree) and every alive vertex
    with degree ≤ k peels with (core=k, layer=round).  k threads through the
    rounds as a one-row scalar CTE; an exhausted graph yields empty peel
    sets (min degree NULL → k unchanged)."""
    ctes = _kcore_base_ctes() + [
        "a0 AS MATERIALIZED (SELECT id FROM v)",
        "k0 AS (SELECT CAST(0 AS BIGINT) AS k)",
    ]
    peels = []
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT a.id, CAST(coalesce(g.c, 0) AS BIGINT) AS c"
            f" FROM a{p} a LEFT JOIN (SELECT s.u AS id, count(*) AS c FROM sym s"
            f" JOIN a{p} x ON s.u = x.id JOIN a{p} y ON s.v = y.id GROUP BY s.u) g"
            f" ON a.id = g.id)"
        )
        ctes.append(
            f"k{r} AS MATERIALIZED (SELECT greatest((SELECT k FROM k{p}),"
            f" coalesce((SELECT min(c) FROM d{r}), (SELECT k FROM k{p}))) AS k)"
        )
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT id, (SELECT k FROM k{r}) AS core,"
            f" CAST({r} AS BIGINT) AS layer FROM d{r}"
            f" WHERE c <= (SELECT k FROM k{r}))"
        )
        ctes.append(
            f"a{r} AS MATERIALIZED (SELECT id FROM d{r}"
            f" WHERE c > (SELECT k FROM k{r}))"
        )
        peels.append(f"SELECT id, core, layer FROM p{r}")
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(peels)


def snapshot_events_sql() -> str:
    """Twin of sources/snapshots.py::events_snapshot_report — every row
    recomputed from chunk membership (chunk = event_id % 3; snapshot k
    sees chunks < k)."""
    rows = []
    for k in (1, 2, 3):
        rows.append(
            f"SELECT 'asof' AS kind, CAST({k} AS BIGINT) AS snap,"
            f" count(*) AS n_rows, count(DISTINCT user_id) AS n_users"
            f" FROM events WHERE event_id % 3 < {k}"
        )
    rows.append(
        "SELECT 'incr', 3, count(*), count(DISTINCT user_id)"
        " FROM events WHERE event_id % 3 IN (1, 2)"
    )
    rows.append(
        "SELECT 'prune', 3, count(*), count(DISTINCT user_id)"
        " FROM events WHERE event_id <= 50"
    )
    return " UNION ALL ".join(rows)


def blocklist_web_sql(host_mod: int = 64) -> str:
    """Twin of operators/curation.py::url_blocklist_filter over the
    synthetic web urls with the gate's fixture blocklist: exact host
    h7, suffix h9 (equality case of the suffix rule), dead suffix
    example.org, path prefix h3/p/1.  Reason priority host > host_suffix >
    path_prefix mirrored as CASE order."""
    return f"""WITH v AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
 u AS (SELECT 'https://h' || CAST(id % {host_mod} AS VARCHAR)
          || '.example.com/p/' || CAST(id AS VARCHAR) AS url,
        'h' || CAST(id % {host_mod} AS VARCHAR) || '.example.com' AS h,
        '/p/' || CAST(id AS VARCHAR) AS p
   FROM v)
SELECT url,
  (h = 'h7.example.com' OR h = 'h9.example.com'
    OR h LIKE '%.h9.example.com' OR h = 'example.org'
    OR h LIKE '%.example.org'
    OR (h = 'h3.example.com' AND p LIKE '/p/1%')) AS blocked,
  CASE WHEN h = 'h7.example.com' THEN 'host:h7.example.com'
       WHEN h = 'h9.example.com' OR h LIKE '%.h9.example.com'
         THEN 'host_suffix:h9.example.com'
       WHEN h = 'example.org' OR h LIKE '%.example.org'
         THEN 'host_suffix:example.org'
       WHEN h = 'h3.example.com' AND p LIKE '/p/1%'
         THEN 'path_prefix:h3.example.com/p/1'
       ELSE '' END AS reason
FROM u"""


def temporal_web_sql(rounds: int = 12, src_mod: int = 199, tmod: int = 97) -> str:
    """Twin of operators/paths.py::temporal_earliest_arrival over the web
    graph with synthetic integer edge times t = (src*7 + dst*13) % tmod and
    sources {id % src_mod == 0}: unrolled min-relaxation, all-integer."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        f"te AS MATERIALIZED (SELECT src, dst,"
        f" (src * 7 + dst * 13) % {tmod} AS t FROM edges)",
        f"a0 AS MATERIALIZED (SELECT id AS source, id, CAST(0 AS BIGINT) AS arrive"
        f" FROM v WHERE id % {src_mod} = 0)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT a.source, e.dst AS id,"
            f" min(e.t) AS arrive FROM a{p} a JOIN te e ON a.id = e.src"
            f" AND e.t >= a.arrive GROUP BY a.source, e.dst)"
        )
        ctes.append(
            f"a{r} AS MATERIALIZED (SELECT source, id, min(arrive) AS arrive FROM ("
            f"SELECT source, id, arrive FROM a{p}"
            f" UNION ALL SELECT source, id, arrive FROM c{r}) u"
            f" GROUP BY source, id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT source, id, arrive FROM a{rounds}"
    )


def jdd_web_sql() -> str:
    """Twin of operators/metrics.py::joint_degree_distribution over the
    web graph's simple undirected projection."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
 sym AS (SELECT a AS u, b AS v FROM ce UNION ALL SELECT b, a FROM ce),
 deg AS (SELECT u AS id, count(*) AS d FROM sym GROUP BY u)
SELECT least(da.d, db.d) AS k1, greatest(da.d, db.d) AS k2,
       count(*) AS n_edges
FROM ce JOIN deg da ON ce.a = da.id JOIN deg db ON ce.b = db.id
GROUP BY 1, 2"""


def robots_web_sql(host_mod: int = 64) -> str:
    """Twin of the robots_web gate: decision arithmetic for the synthetic
    per-host robots fixture (k = id % host_mod; k%3==0 → '*' group with
    Disallow /p/1 + Allow /p/12; k%3==1 → specific 'graphina' group
    Disallow /; k%3==2 → no robots) evaluated for agent 'graphina' with
    longest-prefix-wins, allow-beats-disallow-on-ties."""
    return f"""WITH v AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
 u AS (SELECT 'https://h' || CAST(id % {host_mod} AS VARCHAR)
          || '.example.com/p/' || CAST(id AS VARCHAR) AS url,
        id % {host_mod} AS k, '/p/' || CAST(id AS VARCHAR) AS p
   FROM v)
SELECT url,
  CASE WHEN k % 3 = 1 THEN FALSE
       WHEN k % 3 = 0 AND p LIKE '/p/1%' AND p NOT LIKE '/p/12%' THEN FALSE
       ELSE TRUE END AS allowed,
  CASE WHEN k % 3 = 1 THEN '/'
       WHEN k % 3 = 0 AND p LIKE '/p/12%' THEN '/p/12'
       WHEN k % 3 = 0 AND p LIKE '/p/1%' THEN '/p/1'
       ELSE '' END AS rule_path
FROM u"""


def refex_web_sql(rounds: int = 2) -> str:
    """Twin of operators/refex.py::refex_features over the web graph:
    identical block recursion, feature-index arithmetic, and
    empty-neighborhood zero conventions."""
    ctes = [
        WEB_EDGES_CTE.strip(),
        "sym AS MATERIALIZED (SELECT src, dst FROM edges"
        " UNION ALL SELECT dst AS src, src AS dst FROM edges)",
        "dg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)",
        "ig AS (SELECT dst AS id, count(*) AS d FROM edges GROUP BY dst)",
        "og AS (SELECT src AS id, count(*) AS d FROM edges GROUP BY src)",
        "b0 AS MATERIALIZED ("
        "SELECT v.id, 0 AS fi, CAST(coalesce(dg.d, 0) AS DOUBLE) AS v"
        " FROM v LEFT JOIN dg ON v.id = dg.id"
        " UNION ALL SELECT v.id, 1, CAST(coalesce(ig.d, 0) AS DOUBLE)"
        " FROM v LEFT JOIN ig ON v.id = ig.id"
        " UNION ALL SELECT v.id, 2, CAST(coalesce(og.d, 0) AS DOUBLE)"
        " FROM v LEFT JOIN og ON v.id = og.id)",
    ]
    lo, n = 0, 3
    outs = ["SELECT id, fi, v FROM b0"]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"a{r} AS MATERIALIZED (SELECT s.src AS id, f.fi,"
            f" sum(f.v) AS s, count(*) AS c"
            f" FROM sym s JOIN b{p} f ON s.dst = f.id GROUP BY s.src, f.fi)"
        )
        ctes.append(
            f"b{r} AS MATERIALIZED ("
            f"SELECT g.id, {n} + 2 * (g.fi - {lo}) AS fi,"
            f" coalesce(a.s, 0.0) AS v"
            f" FROM b{p} g LEFT JOIN a{r} a ON g.id = a.id AND g.fi = a.fi"
            f" UNION ALL "
            f"SELECT g.id, {n} + 2 * (g.fi - {lo}) + 1 AS fi,"
            f" CASE WHEN coalesce(a.c, 0) > 0 THEN a.s / a.c ELSE 0.0 END"
            f" FROM b{p} g LEFT JOIN a{r} a ON g.id = a.id AND g.fi = a.fi)"
        )
        outs.append(f"SELECT id, fi, v FROM b{r}")
        lo, n = n, n + 2 * (n - lo)
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT id, CAST(fi AS INT) AS fi, round(v, 6) AS v FROM ("
        + " UNION ALL ".join(outs) + ") u"
    )


def sitemap_frontier_sql(host_mod: int = 64) -> str:
    """Twin of the sitemap_frontier gate: sitemap membership id%5<2 with
    lastmod on id%3==0, seen = even ids, robots verdict per the robots_web
    fixture for agent 'graphina'."""
    return f"""WITH v AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
 u AS (SELECT id, id % {host_mod} AS k,
        'h' || CAST(id % {host_mod} AS VARCHAR) || '.example.com' AS host,
        'https://h' || CAST(id % {host_mod} AS VARCHAR)
          || '.example.com/p/' || CAST(id AS VARCHAR) AS url,
        '/p/' || CAST(id AS VARCHAR) AS p
   FROM v)
SELECT url, host,
  coalesce(CASE WHEN id % 3 = 0
       THEN '2024-01-' || lpad(CAST(id % 28 + 1 AS VARCHAR), 2, '0')
       END, '') AS lastmod
FROM u
WHERE id % 5 < 2 AND id % 2 = 1
  AND NOT (k % 3 = 1)
  AND NOT (k % 3 = 0 AND p LIKE '/p/1%' AND p NOT LIKE '/p/12%')"""


def attack_robustness_sql(remove_counts: tuple[int, ...] = (0, 10, 50)) -> str:
    """Twin of operators/metrics.py::attack_robustness over the web graph:
    per k — top-k hubs by (degree desc, id asc) on the simple undirected
    projection, survivor subgraph, min-id closure, giant/component counts."""
    base = [
        WEB_EDGES_CTE.strip(),
        "ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b"
        " FROM edges WHERE src <> dst)",
        "symd AS (SELECT a AS u, b AS w FROM ce UNION ALL SELECT b, a FROM ce)",
        "dg AS (SELECT u AS id, count(*) AS d FROM symd GROUP BY u)",
        "nt AS (SELECT count(*) AS n FROM v)",
    ]
    outs = []
    for k in remove_counts:
        if k > 0:
            base.append(
                f"rbh{k} AS MATERIALIZED (SELECT id FROM dg"
                f" ORDER BY d DESC, id ASC LIMIT {k})"
            )
            vk = (f"rbv{k} AS (SELECT id FROM v WHERE id NOT IN"
                  f" (SELECT id FROM rbh{k}))")
            ek = (
                f"rbe{k} AS MATERIALIZED (SELECT a, b FROM ce"
                f" WHERE a NOT IN (SELECT id FROM rbh{k})"
                f" AND b NOT IN (SELECT id FROM rbh{k}))"
            )
        else:
            vk = f"rbv{k} AS (SELECT id FROM v)"
            ek = f"rbe{k} AS MATERIALIZED (SELECT a, b FROM ce)"
        base.extend([vk, ek])
        base.append(
            f"rbs{k} AS (SELECT a AS u, b AS w FROM rbe{k}"
            f" UNION ALL SELECT b, a FROM rbe{k})"
        )
        base.append(
            f"reach{k}(id, r) AS ("
            f"SELECT id, id AS r FROM rbv{k}"
            f" UNION SELECT s.w AS id, reach{k}.r"
            f" FROM reach{k} JOIN rbs{k} s ON reach{k}.id = s.u)"
        )
        base.append(
            f"comp{k} AS (SELECT id, min(r) AS c FROM reach{k} GROUP BY id)"
        )
        base.append(
            f"rbsz{k} AS (SELECT c, count(*) AS n FROM comp{k} GROUP BY c)"
        )
        # survivors = n_total minus hubs ACTUALLY selected (the degree CTE
        # only covers non-isolated vertices, so LIMIT k may yield < k rows)
        removed_expr = f"(SELECT count(*) FROM rbh{k})" if k > 0 else "0"
        outs.append(
            f"SELECT CAST({k} AS INT) AS removed,"
            f" (SELECT n FROM nt) - {removed_expr} AS n_left,"
            f" CAST(coalesce(max(n), 0) AS BIGINT) AS giant_size,"
            f" CAST(count(*) AS BIGINT) AS n_components FROM rbsz{k}"
        )
    return "WITH RECURSIVE " + ",\n".join(base) + "\n" + " UNION ALL ".join(outs)


def degree_inequality_sql() -> str:
    """Twin of operators/metrics.py::degree_inequality over the web graph's
    in-degree distribution — identical integer rank-block arithmetic."""
    return f"""WITH {WEB_EDGES_CTE.strip()},
 indeg AS (SELECT dst AS id, count(*) AS d FROM edges GROUP BY dst),
 dg AS (SELECT CAST(coalesce(indeg.d, 0) AS BIGINT) AS d
        FROM v LEFT JOIN indeg ON v.id = indeg.id),
 hist AS (SELECT d, count(*) AS c FROM dg GROUP BY d),
 st AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(d * c) AS BIGINT) AS total
        FROM hist),
 rk AS (SELECT d, c, coalesce(sum(c) OVER (ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        FROM hist),
 sid AS (SELECT CAST(sum(d * (c * start + (c * (c + 1)) // 2)) AS BIGINT) AS s
         FROM rk),
 sfx AS (SELECT d, c, coalesce(sum(c) OVER (ORDER BY d DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
         FROM hist),
 ks AS (SELECT greatest(1, n // 100) AS k1, greatest(1, n // 10) AS k10
        FROM st),
 shares AS (
   SELECT sum(least(greatest(ks.k1 - sfx.above, 0), sfx.c) * sfx.d) AS s1,
          sum(least(greatest(ks.k10 - sfx.above, 0), sfx.c) * sfx.d) AS s10
   FROM sfx, ks)
SELECT round((2.0 * sid.s) / (st.n * st.total) - (st.n + 1.0) / st.n, {ROUND})
         AS gini,
       round((SELECT sum(c * (CAST(d AS DOUBLE) / st.total)
                        * (CAST(d AS DOUBLE) / st.total)) FROM hist), {ROUND})
         AS hhi,
       round(CAST(shares.s1 AS DOUBLE) / st.total, {ROUND}) AS top1_share,
       round(CAST(shares.s10 AS DOUBLE) / st.total, {ROUND}) AS top10_share,
       st.n AS n
FROM st, sid, shares"""


def random_failure_sql(
    fractions: tuple[float, ...] = (0.0, 0.25, 0.5), salt: str = "fail"
) -> str:
    """Twin of operators/metrics.py::random_failure_robustness over the web
    graph — identical md5-bucket drops, min-id closure per fraction."""
    from graphina_spark.operators.sampling import _hex_threshold

    base = [
        WEB_EDGES_CTE.strip(),
        "ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b"
        " FROM edges WHERE src <> dst)",
    ]
    outs = []
    for i, frac in enumerate(fractions):
        thr = _hex_threshold(frac)
        keep = (
            f"substr(md5('{salt}:' || CAST({{c}} AS VARCHAR)), 1, 8) >= '{thr}'"
        )
        base.append(
            f"fv{i} AS MATERIALIZED (SELECT id FROM v WHERE "
            + keep.format(c="id") + ")"
        )
        base.append(
            f"fe{i} AS MATERIALIZED (SELECT a, b FROM ce WHERE "
            + keep.format(c="a") + " AND " + keep.format(c="b") + ")"
        )
        base.append(
            f"fs{i} AS (SELECT a AS u, b AS w FROM fe{i}"
            f" UNION ALL SELECT b, a FROM fe{i})"
        )
        base.append(
            f"freach{i}(id, r) AS (SELECT id, id AS r FROM fv{i}"
            f" UNION SELECT s.w AS id, freach{i}.r"
            f" FROM freach{i} JOIN fs{i} s ON freach{i}.id = s.u)"
        )
        base.append(
            f"fc{i} AS (SELECT id, min(r) AS c FROM freach{i} GROUP BY id)"
        )
        base.append(
            f"fz{i} AS (SELECT c, count(*) AS n FROM fc{i} GROUP BY c)"
        )
        outs.append(
            f"SELECT CAST({frac} AS DOUBLE) AS frac,"
            f" (SELECT count(*) FROM fv{i}) AS n_left,"
            f" CAST(coalesce(max(n), 0) AS BIGINT) AS giant_size,"
            f" CAST(count(*) AS BIGINT) AS n_components FROM fz{i}"
        )
    return "WITH RECURSIVE " + ",\n".join(base) + "\n" + " UNION ALL ".join(outs)


def zorder_events_sql(bits: int = 16, tmod: int = 65536) -> str:
    """Twin of the zorder_events gate: Morton codes of (user_id,
    event_id % tmod) as closed-form bit-term sums."""
    terms = []
    for i in range(bits):
        terms.append(f"(((u >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"(((t >> {i}) & 1) * {1 << (2 * i + 1)})")
    expr = " + ".join(terms)
    cap = (1 << bits) - 1
    return f"""WITH b AS (
   SELECT event_id,
          least(greatest(user_id, 0), {cap}) AS u,
          least(greatest(event_id % {tmod}, 0), {cap}) AS t
   FROM events)
SELECT event_id, CAST({expr} AS BIGINT) AS z FROM b"""
