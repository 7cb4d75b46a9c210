"""DuckDB oracle SQL for the training-data-pipeline operators.

Each builder mirrors the Spark expression trees in functions/textstats.py,
operators/dedup.py and operators/ann.py token-for-token: same tokenization
regex, same md5-based hashing, same tie-breaks — so value-hash parity is
exact, not approximate.  Tables ``documents`` / ``embeddings`` are
pre-registered views in the driver's DuckDB gate.
"""

from __future__ import annotations

from graphina_spark.functions.textstats import LANG_ORDER, STOPWORDS
from graphina_spark.operators.ann import hyperplanes

ROUND = 6

_TOK = (
    "tok AS (SELECT doc_id, list_filter("
    "string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t"
    " FROM documents)"
)


def _stoplist(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def _stophits(lang: str) -> str:
    return f"len(list_filter(t, x -> list_contains({_stoplist(lang)}, x)))"


def _lang_case() -> str:
    conds = []
    for lang in LANG_ORDER:
        parts = [f"c_{lang} > 0"]
        for other in LANG_ORDER:
            if LANG_ORDER.index(other) < LANG_ORDER.index(lang):
                parts.append(f"c_{lang} > c_{other}")
            elif other != lang:
                parts.append(f"c_{lang} >= c_{other}")
        conds.append(f"WHEN {' AND '.join(parts)} THEN '{lang}'")
    return "CASE " + " ".join(conds) + " ELSE 'und' END"


def text_stats_sql() -> str:
    all_stop = "[" + ", ".join(
        f"'{w}'" for lang in LANG_ORDER for w in STOPWORDS[lang]
    ) + "]"
    counts = ", ".join(f"{_stophits(lang)} AS c_{lang}" for lang in LANG_ORDER)
    return f"""WITH {_TOK},
 st AS (
   SELECT d.doc_id, d.text, t.t, {counts},
          len(list_filter(t, x -> list_contains({all_stop}, x))) AS c_any,
          length(d.text)
            - length(regexp_replace(d.text, '[^a-zA-Z0-9 ]', '', 'g')) AS punct
   FROM documents d JOIN tok t ON d.doc_id = t.doc_id)
SELECT doc_id,
       len(t) AS n_tokens,
       punct,
       {_lang_case()} AS lang_pred,
       round(least(1.0, len(t) / 100.0)
             * (1.0 - least(1.0, 4.0 * punct / (length(text) + 1)))
             * (0.2 + 0.8 * least(1.0, 2.0 * c_any / (len(t) + 1))), {ROUND})
         AS quality,
       md5(array_to_string(t, ' ')) AS fingerprint
FROM st"""


def exact_dedup_sql() -> str:
    return """WITH h AS (SELECT doc_id AS id, md5(text) AS h FROM documents),
 grp AS (SELECT h, min(id) AS group_id FROM h GROUP BY h)
SELECT h.id, grp.group_id, h.id = grp.group_id AS keep
FROM h JOIN grp ON h.h = grp.h"""


def _shingle_cte(k: int = 3) -> str:
    return f"""{_TOK},
 shd AS (
   SELECT doc_id,
          list_distinct(CASE WHEN len(t) >= {k}
            THEN list_transform(range(len(t) - {k - 1}),
                                i -> array_to_string(list_slice(t, i + 1, i + {k}), ' '))
            ELSE CAST([] AS VARCHAR[]) END) AS sh
   FROM tok)"""


def ngram_jaccard_sql(
    k: int = 3, threshold: float = 0.2, max_shingle_freq: int | None = None
) -> str:
    """Mirror of ngram_jaccard_pairs: candidates from the df-capped inverted
    index, Jaccard verified exactly over the FULL shingle sets."""
    if max_shingle_freq is None:
        from graphina_spark.operators.dedup import DEFAULT_MAX_SHINGLE_FREQ

        max_shingle_freq = DEFAULT_MAX_SHINGLE_FREQ
    return f"""WITH {_shingle_cte(k)},
 inv0 AS (SELECT doc_id AS id, unnest(sh) AS s FROM shd),
 okfreq AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= {max_shingle_freq}),
 inv AS (SELECT id, inv0.s FROM inv0 JOIN okfreq ON inv0.s = okfreq.s),
 cand AS (
   SELECT DISTINCT x.id AS a, y.id AS b
   FROM inv x JOIN inv y ON x.s = y.s AND x.id < y.id)
SELECT a, b,
       round(len(list_intersect(da.sh, db.sh))
             / CAST(len(list_distinct(list_concat(da.sh, db.sh))) AS DOUBLE),
             {ROUND}) AS jaccard
FROM cand JOIN shd da ON cand.a = da.doc_id JOIN shd db ON cand.b = db.doc_id
WHERE len(list_intersect(da.sh, db.sh))
      / CAST(len(list_distinct(list_concat(da.sh, db.sh))) AS DOUBLE) >= {threshold}"""


def minhash_lsh_sql(
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.2,
    max_band_freq: int | None = None,
) -> str:
    if max_band_freq is None:
        from graphina_spark.operators.dedup import DEFAULT_MAX_SHINGLE_FREQ

        max_band_freq = DEFAULT_MAX_SHINGLE_FREQ
    r = num_hashes // bands
    return f"""WITH {_shingle_cte(k)},
 docs AS (SELECT doc_id AS id, sh FROM shd WHERE len(sh) > 0),
 sig AS (
   SELECT id, list_transform(range({num_hashes}),
            i -> list_min(list_transform(sh, s -> md5(i::VARCHAR || ':' || s)))) AS sig
   FROM docs),
 banded0 AS (
   SELECT id, b,
          md5(array_to_string(list_slice(sig, b * {r} + 1, b * {r} + {r}), '|')) AS bh
   FROM sig, (SELECT unnest(range({bands})) AS b)),
 okb AS (SELECT b, bh FROM banded0 GROUP BY b, bh HAVING count(*) <= {max_band_freq}),
 banded AS (SELECT id, banded0.b, banded0.bh FROM banded0
            JOIN okb ON banded0.b = okb.b AND banded0.bh = okb.bh),
 cand AS (
   SELECT DISTINCT x.id AS a, y.id AS b
   FROM banded x JOIN banded y ON x.b = y.b AND x.bh = y.bh AND x.id < y.id)
SELECT a, b,
       round(len(list_intersect(da.sh, db.sh))
             / CAST(len(list_distinct(list_concat(da.sh, db.sh))) AS DOUBLE),
             {ROUND}) AS jaccard
FROM cand JOIN docs da ON cand.a = da.id JOIN docs db ON cand.b = db.id
WHERE len(list_intersect(da.sh, db.sh))
      / CAST(len(list_distinct(list_concat(da.sh, db.sh))) AS DOUBLE) >= {threshold}"""


def simhash_sql() -> str:
    return f"""WITH {_TOK},
 st AS (SELECT doc_id, unnest(t) AS tk FROM tok),
 bits AS (
   SELECT doc_id, b,
          CASE WHEN sum(CASE WHEN substr(md5(tk), b + 1, 1)
                             IN ('1','3','5','7','9','b','d','f')
                        THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
   FROM st, (SELECT unnest(range(32)) AS b) GROUP BY doc_id, b),
 sim AS (SELECT doc_id, sum(bit * (1::BIGINT << b)) AS simhash
         FROM bits GROUP BY doc_id)
SELECT t.doc_id AS id, CAST(coalesce(sim.simhash, 0) AS BIGINT) AS simhash
FROM tok t LEFT JOIN sim ON t.doc_id = sim.doc_id"""


# cast to DOUBLE[] first: duckdb's list_dot_product on FLOAT[] accumulates in
# float32, while the Spark side multiplies/sums doubles
_COS = (
    "list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(x.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(y.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[]))))"
)


def ann_cosine_topk_sql(kk: int = 5) -> str:
    return f"""WITH scored AS (
   SELECT x.vec_id AS query_id, y.vec_id AS neighbor_id, {_COS} AS cosine
   FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
   WHERE {_COS} IS NOT NULL),
 ranked AS (
   SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY round(cosine, 9) DESC, neighbor_id ASC) AS rank
   FROM scored)
SELECT query_id, neighbor_id, round(cosine, {ROUND}) AS cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {kk}"""


def ann_lsh_topk_sql(
    kk: int = 5,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    tables: int = 1,
    max_bucket: int = 4096,
) -> str:
    """Twin of operators/ann.py::lsh_cosine_topk — per-table hyperplane
    buckets with id-ranked size cap, OR-construction candidate union,
    pairs deduped before scoring."""
    ctes = []
    for t in range(tables):
        mat = hyperplanes(dim, planes, seed + t)
        buckets = " + ".join(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),"
            f" CAST({row} AS DOUBLE[])) > 0 THEN {2**p} ELSE 0 END)"
            for p, row in enumerate(mat)
        )
        ctes.append(
            f"b{t} AS (SELECT vec_id AS id, {buckets} AS bucket FROM embeddings)"
        )
        ctes.append(
            f"c{t} AS (SELECT id, bucket FROM (SELECT id, bucket,"
            f" row_number() OVER (PARTITION BY bucket ORDER BY id) AS rn FROM b{t})"
            f" WHERE rn <= {max_bucket})"
        )
        ctes.append(
            f"p{t} AS (SELECT x.id AS qid, y.id AS nid"
            f" FROM c{t} x JOIN c{t} y ON x.bucket = y.bucket AND x.id <> y.id)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM p{t}" for t in range(tables))
    ctes.append(f"pairs AS (SELECT DISTINCT qid, nid FROM ({union}))")
    ctes.append(
        f"scored AS (SELECT p.qid AS query_id, p.nid AS neighbor_id, {_COS} AS cosine"
        f" FROM pairs p JOIN embeddings x ON x.vec_id = p.qid"
        f" JOIN embeddings y ON y.vec_id = p.nid)"
    )
    ctes.append(
        "ranked AS (SELECT query_id, neighbor_id, cosine,"
        " row_number() OVER (PARTITION BY query_id"
        " ORDER BY round(cosine, 9) DESC, neighbor_id ASC) AS rank"
        " FROM scored WHERE cosine IS NOT NULL)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, neighbor_id, round(cosine, {ROUND}) AS cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {kk}"""
    )


def embedding_neardup_sql(
    threshold: float = 0.9,
    planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    tables: int = 2,
    max_bucket: int = 4096,
) -> str:
    """Twin of operators/ann.py::embedding_neardup_pairs — LSH candidate
    pairs (canonical a < b) filtered at cosine ≥ threshold."""
    ctes = []
    for t in range(tables):
        mat = hyperplanes(dim, planes, seed + t)
        buckets = " + ".join(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),"
            f" CAST({row} AS DOUBLE[])) > 0 THEN {2**p} ELSE 0 END)"
            for p, row in enumerate(mat)
        )
        ctes.append(
            f"b{t} AS (SELECT vec_id AS id, {buckets} AS bucket FROM embeddings)"
        )
        ctes.append(
            f"c{t} AS (SELECT id, bucket FROM (SELECT id, bucket,"
            f" row_number() OVER (PARTITION BY bucket ORDER BY id) AS rn FROM b{t})"
            f" WHERE rn <= {max_bucket})"
        )
        ctes.append(
            f"p{t} AS (SELECT x.id AS a, y.id AS b"
            f" FROM c{t} x JOIN c{t} y ON x.bucket = y.bucket AND x.id < y.id)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM p{t}" for t in range(tables))
    ctes.append(f"pairs AS (SELECT DISTINCT a, b FROM ({union}))")
    cos = _COS
    ctes.append(
        f"scored AS (SELECT p.a, p.b, {cos} AS cosine"
        f" FROM pairs p JOIN embeddings x ON x.vec_id = p.a"
        f" JOIN embeddings y ON y.vec_id = p.b)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a, b, round(cosine, {ROUND}) AS cosine
FROM scored WHERE cosine >= {threshold}"""
    )


def ivf_topk_sql(kk: int = 5, n_centroids: int = 16, n_probe: int = 2) -> str:
    """Twin of operators/ann.py::ivf_cosine_topk with ``lloyd_iters=0``:
    sampled centroids (id multiple of ⌊n/c⌋), nearest-centroid assignment
    (cosine desc, cid asc), top-``n_probe`` probe lists, exact rerank."""
    cos_vc = (
        "list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(x.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[]))))"
    )
    return f"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
 stepc AS (SELECT greatest(1, CAST(n // {n_centroids} AS BIGINT)) AS step FROM nn),
 cents AS (
   SELECT CAST(vec_id // step AS INT) AS cid, embedding AS cvec
   FROM embeddings, stepc
   WHERE vec_id % step = 0 AND vec_id < step * {n_centroids}),
 sim AS (
   SELECT x.vec_id AS id, c.cid,
          CASE WHEN sqrt(list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(x.embedding AS DOUBLE[]))) *
                    sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[]))) > 0
               THEN {cos_vc} ELSE -2.0 END AS csim
   FROM embeddings x CROSS JOIN cents c),
 ranked_sim AS (
   SELECT id, cid, row_number() OVER (
     PARTITION BY id ORDER BY round(csim, 9) DESC, cid ASC) AS rn FROM sim),
 assign AS (SELECT id, cid FROM ranked_sim WHERE rn = 1),
 probes AS (SELECT id AS qid, cid FROM ranked_sim WHERE rn <= {n_probe}),
 cand AS (
   SELECT p.qid, a.id AS nid
   FROM probes p JOIN assign a ON p.cid = a.cid AND p.qid <> a.id),
 scored AS (
   SELECT cd.qid AS query_id, cd.nid AS neighbor_id, {_COS} AS cosine
   FROM cand cd JOIN embeddings x ON x.vec_id = cd.qid
   JOIN embeddings y ON y.vec_id = cd.nid),
 ranked AS (
   SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY round(cosine, 9) DESC, neighbor_id ASC) AS rank
   FROM scored WHERE cosine IS NOT NULL)
SELECT query_id, neighbor_id, round(cosine, {ROUND}) AS cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {kk}"""


def neardup_groups_sql(threshold: float = 0.2) -> str:
    """Transitive closure over the minhash_lsh candidate pairs: group_id =
    min doc reachable through any near-dup chain (mirrors
    operators/dedup.py::neardup_groups over minhash_lsh_pairs)."""
    pairs = minhash_lsh_sql(threshold=threshold)
    return f"""WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT a, b FROM ({pairs}) q),
 sym AS MATERIALIZED (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
 closure(u, v) AS (
   SELECT u, v FROM sym
   UNION
   SELECT c.u, s.v FROM closure c JOIN sym s ON c.v = s.u)
SELECT d.doc_id AS id,
       least(d.doc_id, coalesce(min(c.v), d.doc_id)) AS group_id,
       least(d.doc_id, coalesce(min(c.v), d.doc_id)) = d.doc_id AS keep
FROM documents d LEFT JOIN closure c ON c.u = d.doc_id
GROUP BY d.doc_id"""


def dedup_keep_best_sql(threshold: float = 0.2) -> str:
    """Twin of operators/dedup.py::dedup_keep_best over minhash_lsh pairs:
    same transitive-closure groups as neardup_groups_sql, survivor =
    argmax of the 6-dp-rounded textstats quality blend, ties to the
    smaller id."""
    pairs = minhash_lsh_sql(threshold=threshold)
    all_stop = "[" + ", ".join(
        f"'{w}'" for lang in LANG_ORDER for w in STOPWORDS[lang]
    ) + "]"
    return f"""WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT a, b FROM ({pairs}) q),
 sym AS MATERIALIZED (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
 closure(u, v) AS (
   SELECT u, v FROM sym
   UNION
   SELECT c.u, s.v FROM closure c JOIN sym s ON c.v = s.u),
 grp AS MATERIALIZED (
   SELECT d.doc_id AS id,
          least(d.doc_id, coalesce(min(c.v), d.doc_id)) AS group_id
   FROM documents d LEFT JOIN closure c ON c.u = d.doc_id
   GROUP BY d.doc_id),
 {_TOK},
 qual AS (
   SELECT d.doc_id AS id,
          round(least(1.0, len(t.t) / 100.0)
            * (1.0 - least(1.0, 4.0 * (length(d.text)
                 - length(regexp_replace(d.text, '[^a-zA-Z0-9 ]', '', 'g')))
                 / (length(d.text) + 1)))
            * (0.2 + 0.8 * least(1.0, 2.0
                 * len(list_filter(t.t, x -> list_contains({all_stop}, x)))
                 / (len(t.t) + 1))), 6) AS q
   FROM documents d JOIN tok t ON d.doc_id = t.doc_id),
 r AS (
   SELECT g.id, g.group_id,
          row_number() OVER (PARTITION BY g.group_id
                             ORDER BY s.q DESC, g.id ASC) AS rn
   FROM grp g JOIN qual s ON g.id = s.id)
SELECT id, group_id, rn = 1 AS keep FROM r"""


def _split_case(weights: dict[str, float] | None, salt: str) -> str:
    from graphina_spark.operators.sampling import split_thresholds

    if weights is None:
        weights = {"train": 0.8, "valid": 0.1, "test": 0.1}
    bucket = f"substr(md5('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 8)"
    whens = " ".join(
        f"WHEN {bucket} < '{t}' THEN '{n}'" for n, t in split_thresholds(weights)
    )
    last = list(weights)[-1]
    return f"CASE {whens} ELSE '{last}' END"


def doc_split_sql(weights: dict[str, float] | None = None, salt: str = "split") -> str:
    """Mirror of operators/sampling.py::deterministic_split — identical md5
    bucket expression and cumulative hex thresholds."""
    return (
        f"SELECT doc_id AS id, {_split_case(weights, salt)} AS split FROM documents"
    )


def corpus_stats_sql(
    weights: dict[str, float] | None = None, salt: str = "split"
) -> str:
    """Per-split corpus stats (mirror of operators/sampling.py::corpus_stats):
    exact integer token sums, rounded float means, interpolated median."""
    all_stop = "[" + ", ".join(
        f"'{w}'" for lang in LANG_ORDER for w in STOPWORDS[lang]
    ) + "]"
    return f"""WITH {_TOK},
 st AS (
   SELECT d.doc_id, len(t.t) AS n_tokens,
          least(1.0, len(t.t) / 100.0)
            * (1.0 - least(1.0, 4.0 * (length(d.text)
                 - length(regexp_replace(d.text, '[^a-zA-Z0-9 ]', '', 'g')))
                 / (length(d.text) + 1)))
            * (0.2 + 0.8 * least(1.0,
                 2.0 * len(list_filter(t.t, x -> list_contains({all_stop}, x)))
                 / (len(t.t) + 1))) AS quality
   FROM documents d JOIN tok t ON d.doc_id = t.doc_id),
 sp AS (SELECT doc_id, {_split_case(weights, salt)} AS split FROM documents)
SELECT sp.split,
       count(*) AS n_docs,
       CAST(sum(st.n_tokens) AS BIGINT) AS total_tokens,
       round(avg(st.n_tokens), {ROUND}) AS avg_tokens,
       round(quantile_cont(st.n_tokens, 0.5), {ROUND}) AS median_tokens,
       round(avg(st.quality), {ROUND}) AS avg_quality
FROM sp JOIN st ON sp.doc_id = st.doc_id
GROUP BY sp.split"""


def doc_filter_sql(
    min_tokens: int = 10,
    max_tokens: int | None = None,
    min_quality: float = 0.3,
    langs: list[str] | None = None,
) -> str:
    """Mirror of operators/sampling.py::filter_corpus — same stats, same
    first-failing-rule order (too_short, too_long, low_quality, lang)."""
    all_stop = "[" + ", ".join(
        f"'{w}'" for lang in LANG_ORDER for w in STOPWORDS[lang]
    ) + "]"
    counts = ", ".join(f"{_stophits(lang)} AS c_{lang}" for lang in LANG_ORDER)
    whens = [f"WHEN n_tokens < {min_tokens} THEN 'too_short'"]
    if max_tokens is not None:
        whens.append(f"WHEN n_tokens > {max_tokens} THEN 'too_long'")
    whens.append(f"WHEN quality < {min_quality} THEN 'low_quality'")
    if langs is not None:
        inlist = ", ".join(f"'{x}'" for x in langs)
        whens.append(f"WHEN lang_pred NOT IN ({inlist}) THEN 'lang'")
    case = "CASE " + " ".join(whens) + " ELSE NULL END"
    return f"""WITH {_TOK},
 st AS (
   SELECT d.doc_id AS id, len(t.t) AS n_tokens, {counts},
          least(1.0, len(t.t) / 100.0)
            * (1.0 - least(1.0, 4.0 * (length(d.text)
                 - length(regexp_replace(d.text, '[^a-zA-Z0-9 ]', '', 'g')))
                 / (length(d.text) + 1)))
            * (0.2 + 0.8 * least(1.0,
                 2.0 * len(list_filter(t.t, x -> list_contains({all_stop}, x)))
                 / (len(t.t) + 1))) AS quality
   FROM documents d JOIN tok t ON d.doc_id = t.doc_id),
 st2 AS (SELECT id, n_tokens, quality, {_lang_case()} AS lang_pred FROM st)
SELECT id, CAST(n_tokens AS BIGINT) AS n_tokens, round(quality, {ROUND}) AS quality,
       lang_pred, ({case}) IS NULL AS keep, {case} AS reject_reason
FROM st2"""


def top_ngrams_sql(n: int = 2, k: int = 30) -> str:
    """Mirror of operators/sampling.py::top_ngrams: multiset frequency +
    document frequency of word n-grams, top-k by (freq desc, ngram asc)."""
    return f"""WITH {_TOK},
 grams AS (
   SELECT doc_id, CASE WHEN len(t) >= {n}
     THEN list_transform(range(len(t) - {n - 1}),
                         i -> array_to_string(list_slice(t, i + 1, i + {n}), ' '))
     ELSE CAST([] AS VARCHAR[]) END AS gs
   FROM tok),
 flat AS (SELECT unnest(gs) AS ngram FROM grams),
 agg AS (SELECT ngram, count(*) AS freq FROM flat GROUP BY ngram),
 dfq AS (SELECT ngram, count(*) AS docs FROM (
   SELECT doc_id, unnest(list_distinct(gs)) AS ngram FROM grams) GROUP BY ngram)
SELECT a.ngram, CAST(a.freq AS BIGINT) AS freq, CAST(d.docs AS BIGINT) AS docs
FROM agg a JOIN dfq d ON a.ngram = d.ngram
ORDER BY a.freq DESC, a.ngram ASC LIMIT {k}"""


def vocab_stats_sql() -> str:
    """Mirror of operators/sampling.py::vocab_stats."""
    return f"""WITH {_TOK},
 flat AS (SELECT unnest(t) AS tk FROM tok),
 freq AS (SELECT tk, count(*) AS f FROM flat GROUP BY tk)
SELECT CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(coalesce(sum(f), 0) AS BIGINT) AS total_tokens,
       CAST(coalesce(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS hapax_count,
       CAST(coalesce(max(f), 0) AS BIGINT) AS max_token_freq
FROM freq"""


def doc_repetition_sql() -> str:
    """Mirror of operators/sampling.py::doc_repetition — same bigram
    construction; all ratios single integer divisions (bit-identical
    doubles, no rounding needed)."""
    return f"""WITH {_TOK},
 base AS (SELECT doc_id AS id, t, len(t) AS n_tokens,
                 len(list_distinct(t)) AS n_distinct FROM tok),
 g AS (SELECT id, unnest(CASE WHEN len(t) >= 2
         THEN list_transform(range(len(t) - 1),
                             i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))
         ELSE CAST([] AS VARCHAR[]) END) AS g
       FROM base),
 cnt AS (SELECT id, g, count(*) AS c FROM g GROUP BY id, g),
 rep AS (SELECT id, sum(c) AS nb, max(c) AS top_c,
                sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
         FROM cnt GROUP BY id)
SELECT b.id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       b.n_distinct / greatest(b.n_tokens, 1) AS distinct_token_ratio,
       coalesce(r.top_c / r.nb, 0.0) AS top_bigram_frac,
       coalesce(r.dup_c / r.nb, 0.0) AS dup_bigram_frac
FROM base b LEFT JOIN rep r ON b.id = r.id"""


def split_contamination_sql(
    k: int = 3,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> str:
    """Mirror of operators/sampling.py::split_contamination — same md5
    split, same distinct k-shingles, same shares-a-train-shingle rule."""
    return f"""WITH {_shingle_cte(k)},
 sp AS (SELECT doc_id, {_split_case(weights, salt)} AS split FROM documents),
 flat AS (SELECT doc_id, unnest(sh) AS sg FROM shd),
 tsh AS (SELECT DISTINCT f.sg FROM flat f
         JOIN sp ON f.doc_id = sp.doc_id WHERE sp.split = 'train'),
 dirty AS (SELECT DISTINCT f.doc_id FROM flat f JOIN tsh t ON f.sg = t.sg)
SELECT sp.split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS contaminated,
       sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) / count(*) AS frac
FROM sp LEFT JOIN dirty d ON sp.doc_id = d.doc_id
WHERE sp.split <> 'train'
GROUP BY sp.split"""


def tfidf_top_terms_sql(k: int = 3) -> str:
    """Mirror of operators/sampling.py::tfidf_top_terms — smoothed tf-idf,
    row_number over (score desc, term asc)."""
    return f"""WITH {_TOK},
 tf AS (SELECT doc_id AS id, tk AS term, count(*) AS tf FROM
          (SELECT doc_id, unnest(t) AS tk FROM tok) GROUP BY doc_id, tk),
 nn AS (SELECT count(*) AS n FROM documents),
 dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
 sc AS (SELECT f.id, f.term,
               f.tf * (ln((nn.n + 1.0) / (d.df + 1.0)) + 1.0) AS s
        FROM tf f JOIN dfq d ON f.term = d.term, nn),
 rk AS (SELECT id, term, s,
               row_number() OVER (PARTITION BY id ORDER BY s DESC, term ASC)
                 AS rnk
        FROM sc)
SELECT id, CAST(rnk AS INT) AS rnk, term, round(s, {ROUND}) AS tfidf
FROM rk WHERE rnk <= {k}"""


def _kmeans_ctes(k: int, iters: int) -> list:
    """Shared CTE chain for kmeans_sql/semdedup_sql — identical trajectory
    to operators/kmeans.py::kmeans: sampled init (id multiple of ⌊n/k⌋),
    per-round squared-L2 = left-to-right fold of (x−y)² (bit-identical to
    Spark's F.aggregate over zip_with) rounded to 9 dp, argmin ties to
    smaller cid, centroid update = per-dim mean rounded to 6 dp, empty
    clusters keep their previous centroid.  Final assignment CTE is
    a{iters}."""
    ctes = [
        "nn AS (SELECT count(*) AS n FROM embeddings)",
        f"stepc AS (SELECT greatest(1, CAST(n // {k} AS BIGINT)) AS step FROM nn)",
        "base AS MATERIALIZED (SELECT vec_id AS id,"
        " CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)",
        f"c0 AS MATERIALIZED (SELECT CAST(id // step AS INT) AS cid,"
        f" vec AS cvec FROM base, stepc"
        f" WHERE id % step = 0 AND id < step * {k})",
        "dims AS (SELECT unnest(range(1, 1 + len(vec))) AS pos"
        " FROM (SELECT vec FROM base LIMIT 1))",
    ]
    d2 = (
        "round(list_aggregate(list_transform(list_zip(b.vec, c.cvec),"
        " x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum'), 9)"
    )
    for r in range(1, iters + 1):
        p = r - 1
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT b.id, b.vec, c.cid, {d2} AS d2"
            f" FROM base b CROSS JOIN c{p} c)"
        )
        ctes.append(
            f"a{r} AS MATERIALIZED (SELECT id, vec, cid FROM ("
            f"SELECT id, vec, cid, row_number() OVER ("
            f"PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn FROM s{r}"
            f") WHERE rn = 1)"
        )
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT cid, list(m ORDER BY pos) AS cvec_new"
            f" FROM (SELECT a.cid, d.pos, round(avg(a.vec[d.pos]), 6) AS m"
            f" FROM a{r} a CROSS JOIN dims d GROUP BY a.cid, d.pos)"
            f" GROUP BY cid)"
        )
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT c.cid,"
            f" coalesce(m.cvec_new, c.cvec) AS cvec"
            f" FROM c{p} c LEFT JOIN m{r} m ON c.cid = m.cid)"
        )
    return ctes


def kmeans_sql(k: int = 8, iters: int = 2) -> str:
    """Twin of operators/kmeans.py::kmeans (see _kmeans_ctes)."""
    return (
        "WITH " + ",\n".join(_kmeans_ctes(k, iters))
        + f"\nSELECT id, CAST(cid AS INT) AS cluster FROM a{iters}"
    )


def semdedup_sql(k: int = 8, iters: int = 2, threshold: float = 0.5) -> str:
    """Twin of operators/kmeans.py::semdedup_pairs — within-cell pairs with
    cosine ≥ threshold (cells from the identical kmeans trajectory)."""
    ctes = _kmeans_ctes(k, iters)
    cos = (
        "list_dot_product(xa.vec, xb.vec)"
        " / (sqrt(list_dot_product(xa.vec, xa.vec))"
        " * sqrt(list_dot_product(xb.vec, xb.vec)))"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
 pr AS (
   SELECT xa.id AS a, xb.id AS b, CAST(xa.cid AS INT) AS cluster,
          CASE WHEN sqrt(list_dot_product(xa.vec, xa.vec)) *
                    sqrt(list_dot_product(xb.vec, xb.vec)) > 0
               THEN {cos} END AS cosine
   FROM a{iters} xa JOIN a{iters} xb
     ON xa.cid = xb.cid AND xa.id < xb.id)
SELECT a, b, cluster, round(cosine, {ROUND}) AS cosine
FROM pr WHERE cosine >= {threshold}"""
    )


def bm25_scores_sql(
    terms: tuple[str, ...] = ("dup", "spark", "vector"),
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Mirror of operators/retrieval.py::bm25_scores — Okapi BM25 with
    Lucene's non-negative idf over the frozen token convention (_TOK).
    Arithmetic order matches the Spark column expression exactly."""
    inlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""WITH {_TOK},
 toks AS (SELECT doc_id, unnest(t) AS term FROM tok),
 dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
 nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
 ad AS (SELECT avg(dl) AS avgdl FROM dl),
 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ({inlist}) GROUP BY doc_id, term),
 dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
 idf AS (SELECT term, ln(1.0 + (nn.n - df + 0.5) / (df + 0.5)) AS idf
         FROM dfq, nn),
 prt AS (SELECT f.doc_id,
                i.idf * (f.tf * {k1 + 1.0!r}) /
                  (f.tf + {k1!r} * ({1.0 - b!r} + {b!r} * d.dl / ad.avgdl))
                  AS part
         FROM tf f JOIN idf i USING (term) JOIN dl d USING (doc_id), ad)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(sum(part), {ROUND}) AS score
FROM prt GROUP BY doc_id"""


def pack_docs_sql(seq_len: int = 512, salt: str = "pack") -> str:
    """Mirror of operators/packing.py::pack_documents — deterministic
    md5-shuffled contiguous packing; the oracle computes the exclusive
    prefix sum with one window (fine at sf scale; the Spark side uses the
    one-pass range-partition pattern)."""
    return f"""WITH {_TOK},
 base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 md5('{salt}:' || CAST(doc_id AS VARCHAR)) AS key,
                 CAST(len(t) AS BIGINT) AS n_tokens
          FROM tok),
 laid AS (SELECT doc_id, key, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (ORDER BY key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS start_tok
          FROM base)
SELECT doc_id, key, n_tokens, start_tok,
       start_tok // {int(seq_len)} AS seq_first,
       start_tok % {int(seq_len)} AS off_first,
       greatest(start_tok + n_tokens - 1, start_tok) // {int(seq_len)}
         AS seq_last
FROM laid"""


def pmi_bigrams_sql(min_count: int = 5) -> str:
    """Mirror of operators/pmi.py::pmi_bigrams — adjacent-pair PMI over the
    frozen token convention, identical arithmetic grouping."""
    return f"""WITH {_TOK},
 grams AS (
   SELECT doc_id, CASE WHEN len(t) >= 2
     THEN list_transform(range(len(t) - 1),
                         i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))
     ELSE CAST([] AS VARCHAR[]) END AS gs
   FROM tok),
 big AS (SELECT string_split(g, ' ')[1] AS a, string_split(g, ' ')[2] AS b,
                count(*) AS n_ab
         FROM (SELECT unnest(gs) AS g FROM grams)
         GROUP BY 1, 2 HAVING count(*) >= {min_count}),
 uni AS (SELECT tk, count(*) AS n FROM
           (SELECT unnest(t) AS tk FROM tok) GROUP BY tk),
 nu AS (SELECT CAST(sum(n) AS DOUBLE) AS n_uni FROM uni),
 nb AS (SELECT CAST(sum(len(gs)) AS DOUBLE) AS n_bi FROM grams)
SELECT big.a, big.b, big.n_ab,
       round(ln((big.n_ab / nb.n_bi) /
                ((ua.n / nu.n_uni) * (ub.n / nu.n_uni))), {ROUND}) AS pmi
FROM big
JOIN uni ua ON big.a = ua.tk
JOIN uni ub ON big.b = ub.tk, nu, nb"""


def substring_dup_sql(k: int = 8) -> str:
    """Mirror of operators/substrings.py::duplicated_kgram_stats — rolling
    k-token-window md5 inventory; a position is duplicated iff its window
    occurs >= 2 times corpus-wide."""
    return f"""WITH {_TOK},
 pos AS (SELECT doc_id AS id, md5(array_to_string(t[i:i+{k}-1], ' ')) AS g
         FROM tok, UNNEST(generate_series(1, len(t) - {k} + 1)) AS u(i)),
 cnt AS (SELECT g, count(*) AS c FROM pos GROUP BY g),
 st AS (SELECT p.id, count(*) AS n_grams,
               sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS dup_grams
        FROM pos p JOIN cnt c USING (g) GROUP BY p.id)
SELECT d.doc_id AS id,
       CAST(coalesce(st.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(st.dup_grams, 0) AS BIGINT) AS dup_grams,
       round(CASE WHEN coalesce(st.n_grams, 0) > 0
                  THEN st.dup_grams * 1.0 / st.n_grams ELSE 0.0 END,
             {ROUND}) AS dup_frac
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN st ON d.doc_id = st.id"""


def lm_quality_sql(k: float = 0.5) -> str:
    """Mirror of operators/lmscore.py::lm_quality (self-trained add-k bigram
    model; prefix unigram counts; V = distinct corpus tokens)."""
    return f"""WITH {_TOK},
 pos AS (SELECT doc_id AS id, t[i] AS w1, t[i+1] AS w2
         FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
 big AS (SELECT w1, w2, count(*) AS c12 FROM pos GROUP BY w1, w2),
 uni AS (SELECT w1, count(*) AS c1 FROM pos GROUP BY w1),
 voc AS (SELECT count(DISTINCT w) AS v
         FROM (SELECT unnest(t) AS w FROM tok)),
 dbg AS (SELECT id, w1, w2, count(*) AS n FROM pos GROUP BY id, w1, w2),
 st AS (SELECT dbg.id, sum(dbg.n) AS nb,
               sum(dbg.n * -log2((big.c12 + {k}) / (uni.c1 + {k} * voc.v))) AS bits
        FROM dbg JOIN big USING (w1, w2) JOIN uni USING (w1), voc
        GROUP BY dbg.id)
SELECT d.doc_id AS id, CAST(coalesce(st.nb, 0) AS BIGINT) AS n_bigrams,
       round(CASE WHEN coalesce(st.nb, 0) > 0
                  THEN st.bits / st.nb ELSE 0.0 END, {ROUND}) AS xent_bits
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN st ON d.doc_id = st.id"""


def winnow_fingerprint_sql(k: int = 5, w: int = 4) -> str:
    """Mirror of operators/fingerprints.py::fingerprint_stats — identical
    composite min-key (md5 || lpad(10^9 - pos)) so the rightmost-min
    winnowing selection is the same string minimum in both engines."""
    return f"""WITH {_TOK},
 pos AS (SELECT doc_id AS id, i AS pos,
                md5(array_to_string(t[i:i+{k}-1], ' ')) AS g,
                len(t) - {k} + 1 AS ng
         FROM tok, UNNEST(generate_series(1, len(t) - {k} + 1)) AS u(i)),
 keyed AS (SELECT id, pos, ng,
                  g || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0') AS key
           FROM pos),
 win AS (SELECT id, pos, ng,
                min(key) OVER (PARTITION BY id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW
                               AND {w - 1} FOLLOWING) AS wk
         FROM keyed),
 sel AS (SELECT DISTINCT id, substr(wk, 1, 32) AS g
         FROM win WHERE pos <= ng - {w} + 1),
 dpg AS (SELECT g, count(*) AS nd FROM sel GROUP BY g),
 st AS (SELECT s.id, count(*) AS nf,
               sum(CASE WHEN dpg.nd >= 2 THEN 1 ELSE 0 END) AS ns
        FROM sel s JOIN dpg USING (g) GROUP BY s.id)
SELECT d.doc_id AS id,
       CAST(coalesce(st.nf, 0) AS BIGINT) AS n_fingerprints,
       CAST(coalesce(st.ns, 0) AS BIGINT) AS n_shared,
       round(CASE WHEN coalesce(st.nf, 0) > 0
                  THEN st.ns * 1.0 / st.nf ELSE 0.0 END, {ROUND}) AS shared_frac
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN st ON d.doc_id = st.id"""


def dsir_weights_sql(targets: tuple[str, ...] = ("src0", "src1"),
                     alpha: float = 0.5) -> str:
    """Mirror of operators/dsir.py::dsir_log_weights with
    target = source IN targets; 256 md5-2-hex-prefix bigram buckets,
    add-alpha smoothing on both models."""
    tl = ", ".join(f"'{s}'" for s in targets)
    return f"""WITH tok AS (SELECT doc_id, source IN ({tl}) AS tgt, list_filter(
string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
 FROM documents),
 pos AS (SELECT doc_id AS id, tgt,
                substr(md5(t[i] || ' ' || t[i+1]), 1, 2) AS b
         FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
 cnt AS (SELECT id, b, count(*) AS n FROM pos GROUP BY id, b),
 model AS (SELECT b, sum(n) AS c_raw,
                  sum(CASE WHEN tgt THEN n ELSE 0 END) AS c_tgt
           FROM (SELECT p.id, p.b, any_value(p.tgt) AS tgt, count(*) AS n
                 FROM pos p GROUP BY p.id, p.b)
           GROUP BY b),
 tot AS (SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt FROM model),
 ratio AS (SELECT b,
                  ln((c_tgt + {alpha}) / (t_tgt + {alpha * 256}))
                  - ln((c_raw + {alpha}) / (t_raw + {alpha * 256})) AS lr
           FROM model, tot),
 st AS (SELECT cnt.id, sum(cnt.n) AS nf, sum(cnt.n * ratio.lr) AS lw
        FROM cnt JOIN ratio USING (b) GROUP BY cnt.id)
SELECT d.doc_id AS id, CAST(coalesce(st.nf, 0) AS BIGINT) AS n_feats,
       round(coalesce(st.lw, 0.0), {ROUND}) AS log_weight
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN st ON d.doc_id = st.id"""


def mixture_plan_sql(weights: dict[str, float], token_budget: int,
                     max_epochs: int = 4) -> str:
    """Mirror of operators/sampling.py::mixture_plan — weights renormalized
    over sources present in the corpus, identical arithmetic order."""
    vals = ", ".join(f"('{k}', {float(v)})" for k, v in sorted(weights.items()))
    b = float(token_budget)
    return f"""WITH {_TOK},
 avail AS (SELECT d.source, sum(len(t.t)) AS available_tokens
           FROM documents d JOIN tok t ON d.doc_id = t.doc_id
           GROUP BY d.source),
 wt (source, w) AS (VALUES {vals}),
 j AS (SELECT a.source, a.available_tokens, coalesce(wt.w, 0.0) AS w
       FROM avail a LEFT JOIN wt ON a.source = wt.source),
 tot AS (SELECT sum(w) AS tw FROM j)
SELECT source, CAST(available_tokens AS BIGINT) AS available_tokens,
       round({b} * w / tw, {ROUND}) AS target_tokens,
       round({b} * w / tw / available_tokens, {ROUND}) AS rate,
       CAST(least(ceil({b} * w / tw / available_tokens),
                  {max_epochs}) AS BIGINT) AS epochs
FROM j, tot"""


def silhouette_sql(k: int = 8, iters: int = 2) -> str:
    """Twin of operators/kmeans.py::centroid_silhouette — evaluation
    centroids re-averaged from the final assignment with the same 6-dp
    rounding, distances rounded to 9 dp before the ratio."""
    ctes = _kmeans_ctes(k, iters)
    dd = (
        "round(sqrt(list_aggregate(list_transform(list_zip(a.vec, e.cvec),"
        " x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum')), 9)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
 ec AS MATERIALIZED (SELECT cid AS ecid, list(m ORDER BY pos) AS cvec
       FROM (SELECT a.cid, d.pos, round(avg(a.vec[d.pos]), 6) AS m
             FROM a{iters} a CROSS JOIN dims d GROUP BY a.cid, d.pos)
       GROUP BY cid),
 dist AS (SELECT a.id, a.cid, e.ecid, {dd} AS d
          FROM a{iters} a CROSS JOIN ec e),
 ab AS (SELECT id, cid,
               min(CASE WHEN ecid = cid THEN d END) AS a,
               min(CASE WHEN ecid <> cid THEN d END) AS b
        FROM dist GROUP BY id, cid),
 s AS (SELECT cid,
              CASE WHEN greatest(a, coalesce(b, 0.0)) > 0
                   THEN (coalesce(b, 0.0) - a) / greatest(a, coalesce(b, 0.0))
                   ELSE 0.0 END AS s
       FROM ab)
SELECT CAST(cid AS INT) AS cluster, CAST(count(*) AS BIGINT) AS n,
       round(avg(s), {ROUND}) AS mean_silhouette
FROM s GROUP BY cid"""
    )


def source_kl_sql() -> str:
    """Mirror of operators/sampling.py::source_divergence — same grouping
    keys and arithmetic order (cs/ts · log2((cs/ts)/(c/t)))."""
    return f"""WITH {_TOK},
 ex AS (SELECT d.source, u.w
        FROM documents d JOIN tok t ON d.doc_id = t.doc_id,
             UNNEST(t.t) AS u(w)),
 per AS (SELECT source, w, count(*) AS cs FROM ex GROUP BY source, w),
 corpus AS (SELECT w, sum(cs) AS c FROM per GROUP BY w),
 tots AS (SELECT source, sum(cs) AS ts FROM per GROUP BY source),
 grand AS (SELECT sum(c) AS t FROM corpus)
SELECT per.source, CAST(sum(per.cs) AS BIGINT) AS n_tokens,
       round(sum((per.cs * 1.0 / tots.ts)
                 * log2((per.cs * 1.0 / tots.ts) / (corpus.c * 1.0 / grand.t))),
             {ROUND}) AS kl_bits
FROM per JOIN corpus USING (w) JOIN tots USING (source), grand
GROUP BY per.source"""


def pca_emb_sql(iters: int = 6) -> str:
    """Twin of operators/pca.py::top_component — unrolled power rounds; the
    projection is the same left-to-right zip-fold as Spark's F.aggregate
    (list_aggregate over list_zip, the kmeans-proven bit-compatible form);
    v is rounded to 9 dp per round, readout to 6 dp, sign fixed by the
    first nonzero coordinate."""
    dot_v = (
        "list_aggregate(list_transform(list_zip(b.x, v.v),"
        " t -> t[1] * t[2]), 'sum')"
    )
    ctes = [
        "base AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS x"
        " FROM embeddings)",
        "dims AS (SELECT unnest(range(1, 1 + len(x))) AS pos"
        " FROM (SELECT x FROM base LIMIT 1))",
        "v0 AS MATERIALIZED (SELECT list_prepend(1.0,"
        " list_transform(range(2, 1 + len(x)), i -> 0.0)) AS v"
        " FROM (SELECT x FROM base LIMIT 1))",
    ]
    for r in range(1, iters + 1):
        p = r - 1
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT d.pos,"
            f" sum(b.x[d.pos] * {dot_v.replace('v.v', f'v.v')}) AS s"
            f" FROM base b CROSS JOIN v{p} v CROSS JOIN dims d GROUP BY d.pos)"
        )
        ctes.append(
            f"v{r} AS MATERIALIZED (SELECT list(round(s / nrm, 9)"
            f" ORDER BY pos) AS v FROM w{r},"
            f" (SELECT sqrt(sum(s * s)) AS nrm FROM w{r}))"
        )
    ctes.append(
        f"""vs AS MATERIALIZED (
  SELECT CASE WHEN coalesce(list_filter(v, c -> c <> 0)[1], 1.0) < 0
              THEN list_transform(v, c -> -c) ELSE v END AS v
  FROM v{iters})"""
    )
    ctes.append(
        "ray AS (SELECT round(sum(pp * pp) / count(*), 6) AS eigenvalue"
        " FROM (SELECT list_aggregate(list_transform(list_zip(b.x, v.v),"
        " t -> t[1] * t[2]), 'sum') AS pp FROM base b CROSS JOIN vs v))"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + """
SELECT CAST(d.pos - 1 AS INT) AS pos, round(v.v[d.pos], 6) AS v,
       ray.eigenvalue
FROM dims d CROSS JOIN vs v CROSS JOIN ray"""
    )


def quant_recall_sql(k: int = 5, query_mod: int = 25) -> str:
    """Twin of operators/quantize.py::quantization_recall — identical exact
    min/max codebook, round-half-away int8 codes (both engines round
    non-negative halves up), the same zip-fold cosine rounded to 9 dp for
    ranking with id-asc tie-break, integer hit counts."""
    dot = (
        "list_aggregate(list_transform(list_zip({a}, {b}),"
        " t -> t[1] * t[2]), 'sum')"
    )
    cos = (
        f"CASE WHEN sqrt({dot.format(a='q.v', b='q.v')}) *"
        f" sqrt({dot.format(a='b.v', b='b.v')}) > 0 THEN"
        f" {dot.format(a='q.v', b='b.v')} /"
        f" (sqrt({dot.format(a='q.v', b='q.v')}) *"
        f" sqrt({dot.format(a='b.v', b='b.v')})) END"
    )
    topk = (
        "SELECT qid, nid FROM ("
        "  SELECT q.id AS qid, b.id AS nid,"
        f"        round({cos}, 9) AS c"
        "   FROM {src} q JOIN {src} b ON q.id % {qm} = 0 AND q.id <> b.id)"
        " t WHERE c IS NOT NULL"
        " QUALIFY row_number() OVER (PARTITION BY qid"
        "   ORDER BY c DESC, nid ASC) <= {k}"
    )
    return f"""WITH base AS MATERIALIZED (
   SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
 dims AS (SELECT unnest(range(1, 1 + len(x))) AS pos
          FROM (SELECT x FROM base LIMIT 1)),
 mm AS MATERIALIZED (
   SELECT pos, min(xv) AS lo, (max(xv) - min(xv)) / 255.0 AS sc
   FROM (SELECT d.pos, b.x[d.pos] AS xv FROM base b CROSS JOIN dims d)
   GROUP BY pos),
 dq AS MATERIALIZED (
   SELECT id, list(dv ORDER BY pos) AS v FROM (
     SELECT b.id, m.pos,
            CASE WHEN m.sc > 0 THEN m.lo + least(255, greatest(0,
                 CAST(round((b.x[m.pos] - m.lo) / m.sc) AS INT))) * m.sc
                 ELSE m.lo END AS dv
     FROM base b CROSS JOIN mm m)
   GROUP BY id),
 ex AS MATERIALIZED (
   SELECT id, x AS v FROM base),
 te AS ({topk.format(src='ex', qm=query_mod, k=k)}),
 tq AS ({topk.format(src='dq', qm=query_mod, k=k)}),
 hits AS (SELECT te.qid, count(*) AS h
          FROM te JOIN tq ON te.qid = tq.qid AND te.nid = tq.nid
          GROUP BY te.qid),
 qs AS (SELECT DISTINCT qid FROM te)
SELECT qs.qid AS query_id, CAST(coalesce(hits.h, 0) AS BIGINT) AS hits,
       round(coalesce(hits.h, 0) / {float(k)}, {ROUND}) AS recall
FROM qs LEFT JOIN hits ON qs.qid = hits.qid"""


def _pq_recon_ctes(m: int, ks: int, iters: int, dim: int) -> list:
    """CTE chain (appended after a ``pbase(id, vec)`` CTE) replaying
    operators/quantize.py::product_quantize: per-subspace kmeans
    trajectories identical to _kmeans_ctes (sampled init, 9-dp L2 argmin
    with small-cid ties, 6-dp centroid means, empty clusters keep their
    previous centroid), reconstruction from the centroid frame the FINAL
    assignment was scored against (c{iters-1}).  Ends with
    ``dq(id, v)`` = reconstructed vectors."""
    if dim % m != 0:
        raise ValueError("dim % m != 0")
    sub = dim // m
    ctes = [
        "pnn AS (SELECT count(*) AS n FROM pbase)",
        f"pstepc AS (SELECT greatest(1, CAST(n // {ks} AS BIGINT)) AS step"
        " FROM pnn)",
        f"sdims AS (SELECT unnest(range(1, 1 + {sub})) AS pos)",
    ]
    d2 = (
        "round(list_aggregate(list_transform(list_zip(b.vec, c.cvec),"
        " x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum'), 9)"
    )
    recon = []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        ctes.append(
            f"b{j} AS MATERIALIZED (SELECT id, vec[{lo}:{hi}] AS vec"
            " FROM pbase)"
        )
        ctes.append(
            f"c{j}_0 AS MATERIALIZED (SELECT CAST(id // step AS INT) AS cid,"
            f" vec AS cvec FROM b{j}, pstepc"
            f" WHERE id % step = 0 AND id < step * {ks})"
        )
        for r in range(1, iters + 1):
            p = r - 1
            ctes.append(
                f"s{j}_{r} AS MATERIALIZED (SELECT b.id, b.vec, c.cid,"
                f" {d2} AS d2 FROM b{j} b CROSS JOIN c{j}_{p} c)"
            )
            ctes.append(
                f"a{j}_{r} AS MATERIALIZED (SELECT id, vec, cid FROM ("
                f"SELECT id, vec, cid, row_number() OVER ("
                f"PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn"
                f" FROM s{j}_{r}) WHERE rn = 1)"
            )
            ctes.append(
                f"m{j}_{r} AS MATERIALIZED (SELECT cid,"
                f" list(mm ORDER BY pos) AS cvec_new FROM ("
                f"SELECT a.cid, d.pos, round(avg(a.vec[d.pos]), 6) AS mm"
                f" FROM a{j}_{r} a CROSS JOIN sdims d GROUP BY a.cid, d.pos)"
                f" GROUP BY cid)"
            )
            ctes.append(
                f"c{j}_{r} AS MATERIALIZED (SELECT c.cid,"
                f" coalesce(m.cvec_new, c.cvec) AS cvec"
                f" FROM c{j}_{p} c LEFT JOIN m{j}_{r} m ON c.cid = m.cid)"
            )
        ctes.append(
            f"r{j} AS (SELECT a.id, {j} AS sub, c.cvec AS sv"
            f" FROM a{j}_{iters} a JOIN c{j}_{iters - 1} c"
            " ON a.cid = c.cid)"
        )
        recon.append(f"SELECT * FROM r{j}")
    ctes.append("ru AS (" + " UNION ALL ".join(recon) + ")")
    ctes.append(
        "dq AS MATERIALIZED (SELECT id, flatten(list(sv ORDER BY sub)) AS v"
        " FROM ru GROUP BY id)"
    )
    return ctes


def pq_recall_sql(
    k: int = 5,
    m: int = 4,
    ks: int = 16,
    iters: int = 2,
    dim: int = 64,
    query_mod: int = 25,
) -> str:
    """Twin of operators/quantize.py::pq_recall — PQ reconstruction chain
    (see _pq_recon_ctes), then the usual 9-dp cosine top-k recall
    harness."""
    ctes = [
        "pbase AS MATERIALIZED (SELECT vec_id AS id,"
        " CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)",
    ] + _pq_recon_ctes(m, ks, iters, dim)
    ctes.append("ex AS (SELECT id, vec AS v FROM pbase)")
    dot = (
        "list_aggregate(list_transform(list_zip({a}, {b}),"
        " t -> t[1] * t[2]), 'sum')"
    )
    cos = (
        f"CASE WHEN sqrt({dot.format(a='q.v', b='q.v')}) *"
        f" sqrt({dot.format(a='b.v', b='b.v')}) > 0 THEN"
        f" {dot.format(a='q.v', b='b.v')} /"
        f" (sqrt({dot.format(a='q.v', b='q.v')}) *"
        f" sqrt({dot.format(a='b.v', b='b.v')})) END"
    )
    topk = (
        "SELECT qid, nid FROM ("
        "  SELECT q.id AS qid, b.id AS nid,"
        f"        round({cos}, 9) AS c"
        "   FROM {src} q JOIN {src} b ON q.id % {qm} = 0 AND q.id <> b.id)"
        " t WHERE c IS NOT NULL"
        " QUALIFY row_number() OVER (PARTITION BY qid"
        "   ORDER BY c DESC, nid ASC) <= {k}"
    )
    ctes.append(f"te AS ({topk.format(src='ex', qm=query_mod, k=k)})")
    ctes.append(f"tq AS ({topk.format(src='dq', qm=query_mod, k=k)})")
    ctes.append(
        "hits AS (SELECT te.qid, count(*) AS h FROM te"
        " JOIN tq ON te.qid = tq.qid AND te.nid = tq.nid GROUP BY te.qid)"
    )
    ctes.append("qs AS (SELECT DISTINCT qid FROM te)")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT qs.qid AS query_id, CAST(coalesce(hits.h, 0) AS BIGINT) AS hits,
       round(coalesce(hits.h, 0) / {float(k)}, {ROUND}) AS recall
FROM qs LEFT JOIN hits ON qs.qid = hits.qid"""
    )


def opq_recall_sql(
    k: int = 5,
    m: int = 4,
    ks: int = 16,
    iters: int = 2,
    dim: int = 64,
    rounds: int = 2,
    query_mod: int = 25,
) -> str:
    """Twin of operators/quantize.py::opq_recall — applies the SAME
    pure-Python Givens rotation matrix (imported from quantize.py, so both
    engines multiply identical literals), rounds rotated coordinates to
    6 dp, replays the PQ reconstruction chain on the rotated vectors, and
    scores recall against the exact top-k in the ORIGINAL space."""
    from graphina_spark.operators.quantize import rotation_matrix

    R = rotation_matrix(dim, rounds)
    rlit = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(v)) for v in row) + "]" for row in R
        )
        + "]"
    )
    ctes = [
        "obase AS MATERIALIZED (SELECT vec_id AS id,"
        " CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)",
        f"rmat AS (SELECT {rlit}::DOUBLE[][] AS rm)",
        "pbase AS MATERIALIZED (SELECT id, list_transform(rm, row ->"
        " round(list_aggregate(list_transform(list_zip(row, vec),"
        " t -> t[1] * t[2]), 'sum'), 6)) AS vec FROM obase, rmat)",
    ] + _pq_recon_ctes(m, ks, iters, dim)
    ctes.append("ex AS (SELECT id, vec AS v FROM obase)")
    dot = (
        "list_aggregate(list_transform(list_zip({a}, {b}),"
        " t -> t[1] * t[2]), 'sum')"
    )
    cos = (
        f"CASE WHEN sqrt({dot.format(a='q.v', b='q.v')}) *"
        f" sqrt({dot.format(a='b.v', b='b.v')}) > 0 THEN"
        f" {dot.format(a='q.v', b='b.v')} /"
        f" (sqrt({dot.format(a='q.v', b='q.v')}) *"
        f" sqrt({dot.format(a='b.v', b='b.v')})) END"
    )
    topk = (
        "SELECT qid, nid FROM ("
        "  SELECT q.id AS qid, b.id AS nid,"
        f"        round({cos}, 9) AS c"
        "   FROM {src} q JOIN {src} b ON q.id % {qm} = 0 AND q.id <> b.id)"
        " t WHERE c IS NOT NULL"
        " QUALIFY row_number() OVER (PARTITION BY qid"
        "   ORDER BY c DESC, nid ASC) <= {k}"
    )
    ctes.append(f"te AS ({topk.format(src='ex', qm=query_mod, k=k)})")
    ctes.append(f"tq AS ({topk.format(src='dq', qm=query_mod, k=k)})")
    ctes.append(
        "hits AS (SELECT te.qid, count(*) AS h FROM te"
        " JOIN tq ON te.qid = tq.qid AND te.nid = tq.nid GROUP BY te.qid)"
    )
    ctes.append("qs AS (SELECT DISTINCT qid FROM te)")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT qs.qid AS query_id, CAST(coalesce(hits.h, 0) AS BIGINT) AS hits,
       round(coalesce(hits.h, 0) / {float(k)}, {ROUND}) AS recall
FROM qs LEFT JOIN hits ON qs.qid = hits.qid"""
    )


def ivfpq_topk_sql(
    kk: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    m: int = 4,
    ks: int = 16,
    iters: int = 2,
    dim: int = 64,
) -> str:
    """Twin of operators/ann.py::ivfpq_topk — IVF coarse quantizer
    (sampled centroids, nearest by 9-dp cosine with cid-asc ties,
    top-n_probe probe lists, as in ivf_topk_sql) + asymmetric scoring:
    full-precision query against the PQ-reconstructed neighbor
    (_pq_recon_ctes)."""
    ctes = [
        "pbase AS MATERIALIZED (SELECT vec_id AS id,"
        " CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)",
    ] + _pq_recon_ctes(m, ks, iters, dim)
    dot = (
        "list_aggregate(list_transform(list_zip({a}, {b}),"
        " t -> t[1] * t[2]), 'sum')"
    )
    cos_vc = (
        f"CASE WHEN sqrt({dot.format(a='x.vec', b='x.vec')}) *"
        f" sqrt({dot.format(a='c.cvec', b='c.cvec')}) > 0 THEN"
        f" {dot.format(a='x.vec', b='c.cvec')} /"
        f" (sqrt({dot.format(a='x.vec', b='x.vec')}) *"
        f" sqrt({dot.format(a='c.cvec', b='c.cvec')})) ELSE -2.0 END"
    )
    cos_qn = (
        f"CASE WHEN sqrt({dot.format(a='x.vec', b='x.vec')}) *"
        f" sqrt({dot.format(a='y.v', b='y.v')}) > 0 THEN"
        f" {dot.format(a='x.vec', b='y.v')} /"
        f" (sqrt({dot.format(a='x.vec', b='x.vec')}) *"
        f" sqrt({dot.format(a='y.v', b='y.v')})) END"
    )
    ctes += [
        "inn AS (SELECT count(*) AS n FROM pbase)",
        f"istepc AS (SELECT greatest(1, CAST(n // {n_centroids} AS BIGINT))"
        " AS step FROM inn)",
        "icents AS (SELECT CAST(id // step AS INT) AS cid, vec AS cvec"
        f" FROM pbase, istepc WHERE id % step = 0 AND id < step * {n_centroids})",
        f"isim AS (SELECT x.id, c.cid, {cos_vc} AS csim"
        " FROM pbase x CROSS JOIN icents c)",
        "iranked AS (SELECT id, cid, row_number() OVER ("
        " PARTITION BY id ORDER BY round(csim, 9) DESC, cid ASC) AS rn"
        " FROM isim)",
        "iassign AS (SELECT id, cid FROM iranked WHERE rn = 1)",
        f"iprobes AS (SELECT id AS qid, cid FROM iranked WHERE rn <= {n_probe})",
        "icand AS (SELECT p.qid, a.id AS nid FROM iprobes p"
        " JOIN iassign a ON p.cid = a.cid AND p.qid <> a.id)",
        f"iscored AS (SELECT cd.qid AS query_id, cd.nid AS neighbor_id,"
        f" {cos_qn} AS cosine FROM icand cd"
        " JOIN pbase x ON x.id = cd.qid JOIN dq y ON y.id = cd.nid)",
        "iranked2 AS (SELECT query_id, neighbor_id, cosine,"
        " row_number() OVER (PARTITION BY query_id"
        " ORDER BY round(cosine, 9) DESC, neighbor_id ASC) AS rank"
        " FROM iscored WHERE cosine IS NOT NULL)",
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT query_id, neighbor_id, round(cosine, {ROUND}) AS cosine,
       CAST(rank AS INT) AS rank
FROM iranked2 WHERE rank <= {kk}"""
    )


def matryoshka_recall_sql(k: int = 5, dims: int = 16, query_mod: int = 25) -> str:
    """Twin of operators/quantize.py::matryoshka_recall — prefix slice
    ``x[1:dims]`` vs full vectors, the same 9-dp-rounded cosine top-k with
    id-asc tie-break, integer hit counts."""
    dot = (
        "list_aggregate(list_transform(list_zip({a}, {b}),"
        " t -> t[1] * t[2]), 'sum')"
    )
    cos = (
        f"CASE WHEN sqrt({dot.format(a='q.v', b='q.v')}) *"
        f" sqrt({dot.format(a='b.v', b='b.v')}) > 0 THEN"
        f" {dot.format(a='q.v', b='b.v')} /"
        f" (sqrt({dot.format(a='q.v', b='q.v')}) *"
        f" sqrt({dot.format(a='b.v', b='b.v')})) END"
    )
    topk = (
        "SELECT qid, nid FROM ("
        "  SELECT q.id AS qid, b.id AS nid,"
        f"        round({cos}, 9) AS c"
        "   FROM {src} q JOIN {src} b ON q.id % {qm} = 0 AND q.id <> b.id)"
        " t WHERE c IS NOT NULL"
        " QUALIFY row_number() OVER (PARTITION BY qid"
        "   ORDER BY c DESC, nid ASC) <= {k}"
    )
    return f"""WITH base AS MATERIALIZED (
   SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
 ex AS (SELECT id, x AS v FROM base),
 pr AS (SELECT id, x[1:{dims}] AS v FROM base),
 te AS ({topk.format(src='ex', qm=query_mod, k=k)}),
 tp AS ({topk.format(src='pr', qm=query_mod, k=k)}),
 hits AS (SELECT te.qid, count(*) AS h
          FROM te JOIN tp ON te.qid = tp.qid AND te.nid = tp.nid
          GROUP BY te.qid),
 qs AS (SELECT DISTINCT qid FROM te)
SELECT qs.qid AS query_id, CAST(coalesce(hits.h, 0) AS BIGINT) AS hits,
       round(coalesce(hits.h, 0) / {float(k)}, {ROUND}) AS recall
FROM qs LEFT JOIN hits ON qs.qid = hits.qid"""


def nbr_emb_sql() -> str:
    """Mirror of operators/smoothing.py::neighborhood_mean_embedding over
    the web graph (include_self=False): symmetrized neighbor multiset, mean
    over embedded neighbors only, 6-dp rounding.  Needs both the customer
    (graph) and embeddings views; WEB edge derivation inlined from
    oracles.WEB_EDGES_CTE."""
    from graphina_spark.sources.derived import WEB_EDGES_CTE

    return f"""WITH {WEB_EDGES_CTE.strip()},
 sym AS (SELECT src, dst FROM edges
         UNION ALL SELECT dst AS src, src AS dst FROM edges),
 e AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS x
       FROM embeddings),
 dims AS (SELECT unnest(range(1, 1 + len(x))) AS pos
          FROM (SELECT x FROM e LIMIT 1))
SELECT s.src AS id, CAST(d.pos - 1 AS INT) AS pos,
       round(avg(e.x[d.pos]), {ROUND}) AS v
FROM sym s JOIN e ON s.dst = e.nid CROSS JOIN dims d
GROUP BY s.src, d.pos"""


def weighted_sample_sql(k: int = 50, salt: str = "wsample") -> str:
    """Mirror of operators/sampling.py::weighted_sample over documents with
    weight = n_chars.  The md5-hex → integer conversion is spelled as a
    fixed-order digit sum (DuckDB has no hex→int cast); it equals Spark's
    conv(hex, 16, 10) exactly."""
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"""WITH hx AS (
   SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS weight,
          substr(md5('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
   FROM documents WHERE n_chars > 0),
 key AS (SELECT id, weight,
                ln(({digits} + 1) / {float(16 ** 8 + 1)}) / weight AS k
         FROM hx)
SELECT id, weight, round(k, {ROUND}) AS es_key
FROM key ORDER BY k DESC, id ASC LIMIT {k}"""


def zipf_fit_sql(top_n: int = 100) -> str:
    """Mirror of operators/sampling.py::zipf_fit — identical total rank
    order (freq desc, token asc) and regression arithmetic."""
    return f"""WITH {_TOK},
 cnt AS (SELECT w, count(*) AS f
         FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w),
 top AS (SELECT w, f FROM cnt ORDER BY f DESC, w ASC LIMIT {top_n}),
 xy AS (SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, w ASC) AS DOUBLE)) AS x,
               ln(CAST(f AS DOUBLE)) AS y
        FROM top),
 s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
SELECT CAST(n AS BIGINT) AS n_terms,
       round(-((sxy - sx * sy / n) / (sxx - sx * sx / n)), {ROUND}) AS alpha,
       round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx / n,
             {ROUND}) AS intercept
FROM s"""


def chunk_docs_sql(size: int = 32, stride: int = 24) -> str:
    """Mirror of operators/substrings.py::chunk_documents — same window
    starts (every stride-th position from 1), same md5 over the
    space-joined slice."""
    return f"""WITH {_TOK},
 nz AS (SELECT doc_id AS id, t FROM tok WHERE len(t) > 0),
 st AS (SELECT id, t, i AS start_tok,
               CAST((i - 1) / {stride} AS INT) AS chunk_idx0
        FROM nz, UNNEST(generate_series(1, len(t), {stride})) AS u(i))
SELECT id, CAST(chunk_idx0 AS INT) AS chunk_idx,
       CAST(start_tok AS INT) AS start_tok,
       CAST(least({size}, len(t) - start_tok + 1) AS INT) AS n_tokens,
       md5(array_to_string(t[start_tok:start_tok+{size}-1], ' ')) AS chunk_hash
FROM st"""


def lsh_recall_sql(
    kk: int = 5,
    planes: int = 6,
    tables: int = 2,
    max_bucket: int = 32,
) -> str:
    """Twin of operators/ann.py::lsh_recall — composes the exact and LSH
    top-k oracles (each already gated standalone) and counts per-query
    intersections."""
    exact = ann_cosine_topk_sql(kk=kk)
    lsh = ann_lsh_topk_sql(kk=kk, planes=planes, tables=tables, max_bucket=max_bucket)
    return f"""WITH te AS MATERIALIZED (SELECT query_id, neighbor_id FROM ({exact})),
 tl AS MATERIALIZED (SELECT query_id, neighbor_id FROM ({lsh})),
 hits AS (SELECT te.query_id AS qid, count(*) AS h
          FROM te JOIN tl ON te.query_id = tl.query_id
                         AND te.neighbor_id = tl.neighbor_id
          GROUP BY te.query_id),
 qs AS (SELECT DISTINCT query_id FROM te)
SELECT qs.query_id, CAST(coalesce(hits.h, 0) AS BIGINT) AS hits,
       round(coalesce(hits.h, 0) / {float(kk)}, {ROUND}) AS recall
FROM qs LEFT JOIN hits ON qs.query_id = hits.qid"""


def bpe_merges_sql(merges: int = 8) -> str:
    """(step, l, r, merged, pair_count) BPE merge table — mirror of
    operators/bpe.py::learn_bpe_merges: same corpus tokenization, same
    double-space symbol-string representation, same literal-replace merge
    application (identical non-overlapping left-to-right semantics), same
    (count desc, l asc, r asc) argmax tie-break.  Rounds with no remaining
    pairs contribute no row (the Spark side breaks; once empty, always
    empty)."""
    ctes = [
        "wc AS MATERIALIZED (SELECT word, count(*) AS cnt FROM ("
        "SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
        " x -> x <> '')) AS word FROM documents) GROUP BY word)",
        "d0 AS MATERIALIZED (SELECT cnt,"
        " ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS sym"
        " FROM wc)",
    ]
    selects = []
    for k in range(1, merges + 1):
        p, d = f"d{k - 1}", f"d{k}"
        ctes.append(
            f"p{k} AS MATERIALIZED (SELECT a, b, sum(cnt) AS c FROM ("
            f"SELECT cnt, unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b"
            f" FROM (SELECT cnt, string_split(trim(sym), '  ') AS t FROM {p})"
            f" WHERE len(t) >= 2) GROUP BY a, b)"
        )
        ctes.append(
            f"t{k} AS MATERIALIZED (SELECT a, b, c FROM p{k}"
            f" ORDER BY c DESC, a ASC, b ASC LIMIT 1)"
        )
        ctes.append(
            f"{d} AS MATERIALIZED (SELECT dd.cnt,"
            f" CASE WHEN t.a IS NULL THEN dd.sym"
            f" ELSE replace(dd.sym, ' ' || t.a || '  ' || t.b || ' ',"
            f" ' ' || t.a || t.b || ' ') END AS sym"
            f" FROM {p} dd LEFT JOIN t{k} t ON TRUE)"
        )
        selects.append(
            f"SELECT {k} AS step, a AS l, b AS r, a || b AS merged,"
            f" CAST(c AS BIGINT) AS pair_count FROM t{k}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def frequent_tokens_sql(num: int = 1, den: int = 1000) -> str:
    """(token, cnt) exact φ-heavy token set — the ground-truth twin of
    operators/freqitems.py::frequent_tokens (the two-pass Misra–Gries
    output is exactly this set; integer threshold arithmetic on both
    sides, no float compare)."""
    return f"""WITH {_TOK},
 u AS MATERIALIZED (SELECT unnest(t) AS token FROM tok),
 n AS (SELECT count(*) AS n FROM u)
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM u, n GROUP BY token, n.n HAVING count(*) * {den} >= n.n * {num}"""


def contamination_sql(k: int = 8, bench_mod: int = 97) -> str:
    """Mirror of operators/contamination.py::ngram_contamination with the
    gate's deterministic split: bench = doc_id % bench_mod == 0, train =
    the rest.  Same tokenizer, same md5 k-token windows, same DISTINCT
    gram semantics."""
    return f"""WITH {_TOK},
 pos AS (SELECT doc_id AS id,
                md5(array_to_string(t[i:i+{k}-1], ' ')) AS g
         FROM tok, UNNEST(generate_series(1, len(t) - {k} + 1)) AS u(i)),
 tg AS (SELECT DISTINCT id AS train_id, g FROM pos WHERE id % {bench_mod} <> 0),
 bg AS (SELECT DISTINCT id AS bench_id, g FROM pos WHERE id % {bench_mod} = 0),
 bs AS (SELECT bench_id, count(*) AS bench_grams FROM bg GROUP BY bench_id),
 h AS (SELECT t.train_id, b.bench_id, count(*) AS shared
       FROM tg t JOIN bg b USING (g) GROUP BY t.train_id, b.bench_id)
SELECT h.train_id, h.bench_id, CAST(h.shared AS BIGINT) AS shared,
       CAST(bs.bench_grams AS BIGINT) AS bench_grams,
       round(h.shared * 1.0 / bs.bench_grams, {ROUND}) AS frac
FROM h JOIN bs USING (bench_id)"""


def curation_pipeline_sql(
    bench_mod: int = 97,
    contam_k: int = 4,
    contam_min_frac: float = 0.5,
    dedup_threshold: float = 0.2,
    min_tokens: int = 10,
    max_tokens: int | None = None,
    min_quality: float = 0.3,
    langs: list[str] | None = None,
) -> str:
    """Twin of operators/curation.py::curation_pipeline — nests the three
    stage oracles unchanged (doc_filter_sql, dedup_keep_best_sql,
    contamination_sql; every stage verdict is per-doc, so subquery
    composition is exact).  The contamination threshold compares the
    6-dp-rounded frac on both engines."""
    fl = doc_filter_sql(
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        min_quality=min_quality,
        langs=langs,
    )
    kb = dedup_keep_best_sql(threshold=dedup_threshold)
    ct = contamination_sql(k=contam_k, bench_mod=bench_mod)
    return f"""SELECT f.id AS doc_id, f.n_tokens, f.quality
FROM ({fl}) f
JOIN ({kb}) k ON k.id = f.id AND k.keep
LEFT JOIN (SELECT DISTINCT train_id FROM ({ct})
           WHERE frac >= {contam_min_frac}) c
  ON c.train_id = f.id
WHERE f.keep AND f.id % {bench_mod} <> 0 AND c.train_id IS NULL"""


def pii_scrub_sql() -> str:
    """Mirror of functions/pii.py — identical planted contacts, identical
    engine-portable regexes (no lookaround, so Java regex and RE2 agree),
    identical email → IPv4 → phone replacement order."""
    from graphina_spark.functions.pii import (
        EMAIL_RE,
        EMAIL_TOKEN,
        IPV4_RE,
        IPV4_TOKEN,
        PHONE_RE,
        PHONE_TOKEN,
    )

    planted = (
        "text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'"
        " || CASE WHEN doc_id % 3 = 0 THEN ' cc admin' ||"
        " CAST(doc_id AS VARCHAR) || '@mail.test' ELSE '' END"
        " || ' or 10.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)"
        " || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)"
        " || ' or call +1-555-' ||"
        " lpad(CAST((doc_id * 31) % 10000 AS VARCHAR), 4, '0') || ' now'"
    )
    clean = (
        f"regexp_replace(regexp_replace(regexp_replace(text,"
        f" '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g'),"
        f" '{IPV4_RE}', '{IPV4_TOKEN}', 'g'),"
        f" '{PHONE_RE}', '{PHONE_TOKEN}', 'g')"
    )
    return f"""WITH planted AS (SELECT doc_id, {planted} AS text FROM documents),
 scrub AS (SELECT doc_id, text, {clean} AS clean FROM planted)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS INT) AS n_ips,
  CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INT) AS n_phones,
  CAST(length(text) - length(clean) AS INT) AS n_redacted_chars,
  md5(clean) AS clean_md5
FROM scrub"""


def line_dedup_sql(words_per_line: int = 10, max_doc_freq: int = 1) -> str:
    """Mirror of operators/linededup.py — same fixed-width token windows,
    same corpus-wide distinct-doc frequency rule, same ordered reassembly
    (string_agg ORDER BY line_no ≡ array_sort(collect_list(struct)))."""
    w = words_per_line
    return f"""WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
 lines AS (SELECT doc_id, i AS line_no,
     array_to_string(list_slice(a, i*{w}+1, i*{w}+{w}), ' ') AS line
   FROM arr, unnest(generate_series(0,
     CAST(ceil(len(a)/{w}.0) AS BIGINT) - 1)) AS t(i)),
 cnt AS (SELECT md5(line) AS h, count(DISTINCT doc_id) AS ndocs
   FROM lines GROUP BY 1),
 j AS (SELECT l.doc_id, l.line_no, l.line, c.ndocs <= {max_doc_freq} AS keep
   FROM lines l JOIN cnt c ON md5(l.line) = c.h)
SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
  CAST(coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS INT) AS n_kept,
  md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
    ORDER BY line_no), '')) AS clean_md5
FROM j GROUP BY doc_id"""


def len_deciles_sql(q: int = 10) -> str:
    """Mirror of operators/quantiles.py::exact_quantiles on n_chars —
    histogram + running sum + INTEGER rank rule (ceil via (k·n+q−1)//q;
    engine-native percentile_disc computes q·n in floats and flips ceil
    exactly on round boundaries)."""
    return f"""WITH hist AS (SELECT n_chars AS v, count(*) AS cnt
   FROM documents GROUP BY 1),
 cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM hist),
 tot AS (SELECT count(*) AS n FROM documents),
 ks AS (SELECT CAST(unnest(generate_series(1, {q - 1})) AS INT) AS k)
SELECT k, min(v) AS value FROM cum, tot, ks
WHERE cum >= (k * n + {q - 1}) // {q}
GROUP BY k"""


def classifier_scores_sql(salt: str = "clfw", scale: float = 4.0,
                          bias: float = -0.05) -> str:
    """Twin of operators/classify.py::classifier_scores with the
    md5-derived demo weight table: the 256 (bucket, weight) literals are
    computed by the SAME Python arithmetic that builds the Spark-side
    table (hashlib md5 prefix → float), so the model is bit-identical by
    construction; hashed unigram+bigram counts, mean pooling, sigmoid."""
    import hashlib as _hl

    vals = []
    for i in range(256):
        b = format(i, "02x")
        h = int(_hl.md5(f"{salt}:{b}".encode()).hexdigest()[:8], 16)
        vals.append(f"('{b}', {(h / 4294967296.0 - 0.5) * scale!r})")
    wt = ", ".join(vals)
    return f"""WITH {_TOK},
 uni AS (SELECT doc_id AS id, substr(md5('u:' || t[i]), 1, 2) AS b
         FROM tok, UNNEST(generate_series(1, len(t))) AS u(i)),
 bi AS (SELECT doc_id AS id, substr(md5('b:' || t[i] || ' ' || t[i+1]), 1, 2) AS b
        FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
 cnt AS (SELECT id, b, count(*) AS n
         FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) f GROUP BY id, b),
 wt (b, w) AS (VALUES {wt}),
 st AS (SELECT cnt.id, sum(cnt.n) AS nf,
               sum(cnt.n * coalesce(wt.w, 0.0)) AS dot
        FROM cnt LEFT JOIN wt ON cnt.b = wt.b GROUP BY cnt.id),
 lg AS (SELECT d.doc_id AS id, CAST(coalesce(st.nf, 0) AS BIGINT) AS n_feats,
               CASE WHEN st.nf IS NULL THEN {bias!r}
                    ELSE {bias!r} + st.dot / st.nf END AS logit
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN st ON d.doc_id = st.id)
SELECT id, n_feats, round(logit, {ROUND}) AS logit,
       round(1.0 / (1.0 + exp(-logit)), {ROUND}) AS prob,
       (1.0 / (1.0 + exp(-logit))) >= 0.5 AS label
FROM lg"""


def _md5int(arg: str) -> str:
    """conv(md5(arg)[:8], 16, 10) as a fixed-order digit sum (DuckDB has no
    hex→int cast); identical to Spark's conv for 8 hex chars."""
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(substr(md5({arg}), 1, 8), {i}, 1)) - 1)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"({digits})"


def _cms_cells_ctes(depth: int, width: int, salt: str) -> str:
    parts = []
    for j in range(depth):
        h = _md5int(f"'{salt}:{j}:' || tok")
        parts.append(f"SELECT {j} AS r, {h} % {width} AS c FROM tk")
    per_row = " UNION ALL ".join(parts)
    return f"""{_TOK},
 tk AS (SELECT unnest(t) AS tok FROM tok),
 cellrows AS ({per_row}),
 cells AS (SELECT r, CAST(c AS INT) AS c, count(*) AS cnt
           FROM cellrows GROUP BY r, c)"""


def cms_cells_sql(depth: int = 4, width: int = 64, salt: str = "cms") -> str:
    """Twin of operators/cms.py::cms_sketch — the sketch matrix as sparse
    integer cell rows (bit-exact across engines)."""
    return f"""WITH {_cms_cells_ctes(depth, width, salt)}
SELECT CAST(r AS INT) AS r, c, CAST(cnt AS BIGINT) AS cnt FROM cells"""


def cms_probe_sql(k: int = 10, depth: int = 4, width: int = 64,
                  salt: str = "cms") -> str:
    """Twin of the cms_probe gate: top-k exact tokens (count desc, token
    asc) with their CMS point estimates; est >= exact always."""
    parts = []
    for j in range(depth):
        h = _md5int(f"'{salt}:{j}:' || token")
        parts.append(
            f"SELECT token, {j} AS r, CAST({h} % {width} AS INT) AS c FROM probes"
        )
    probe_rows = " UNION ALL ".join(parts)
    return f"""WITH {_cms_cells_ctes(depth, width, salt)},
 exact AS (SELECT tok AS token, count(*) AS exact_cnt FROM tk GROUP BY tok
           ORDER BY exact_cnt DESC, token ASC LIMIT {k}),
 probes AS (SELECT token FROM exact),
 pr AS ({probe_rows}),
 est AS (SELECT pr.token, min(coalesce(cells.cnt, 0)) AS est
         FROM pr LEFT JOIN cells ON pr.r = cells.r AND pr.c = cells.c
         GROUP BY pr.token)
SELECT e.token, CAST(e.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(est.est AS BIGINT) AS est
FROM exact e JOIN est ON e.token = est.token"""


def warc_roundtrip_sql() -> str:
    """Identity twin of the WARC round-trip gate: the Spark side writes
    documents into WARC/1.0 segments and parses them back; byte-identical
    payloads mean (id, md5(text), octet count) must equal the source."""
    return f"""SELECT doc_id AS id, md5(text) AS text_md5,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents"""


def span_dedup_sql(k: int = 8) -> str:
    """Mirror of operators/substrings.py::remove_duplicate_spans — same
    frozen tokenizer, same md5 k-token windows, corpus count >= 2 rule,
    covered-position union, ordered reassembly digest."""
    return f"""WITH {_TOK},
 grams AS (SELECT doc_id, i AS pos,
     md5(array_to_string(list_slice(t, i, i + {k} - 1), ' ')) AS g
   FROM tok, unnest(generate_series(1, len(t) - {k} + 1)) AS u(i)),
 cnt AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
 dup AS (SELECT doc_id, pos FROM grams JOIN cnt USING (g)),
 cov AS (SELECT DISTINCT doc_id, pos + j AS tpos
   FROM dup, unnest(generate_series(0, {k} - 1)) AS w(j)),
 tp AS (SELECT doc_id, i AS tpos, t[i] AS tok
   FROM tok, unnest(generate_series(1, len(t))) AS u(i)),
 kept AS (SELECT tp.doc_id, tp.tpos, tp.tok FROM tp
   LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.tpos = cov.tpos
   WHERE cov.doc_id IS NULL),
 ka AS (SELECT doc_id, count(*) AS n_kept,
     md5(string_agg(tok, ' ' ORDER BY tpos)) AS clean_md5
   FROM kept GROUP BY doc_id)
SELECT tok.doc_id AS id, CAST(len(tok.t) AS INT) AS n_tokens,
  CAST(coalesce(ka.n_kept, 0) AS INT) AS n_kept,
  coalesce(ka.clean_md5, md5('')) AS clean_md5
FROM tok LEFT JOIN ka ON tok.doc_id = ka.doc_id"""


def train_classifier_sql(iters: int = 3, lr: float = 4.0) -> str:
    """Twin of operators/classify.py::train_linear_classifier with the
    lang='en' teacher labels: identical hashed features (mean-pooled +
    __bias__ constant), w=0 init, unrolled full-batch logistic GD.
    Every per-round CTE MATERIALIZED (each is referenced twice)."""
    buckets = ", ".join(
        [f"('{format(i, '02x')}')" for i in range(256)] + ["('__bias__')"]
    )
    ctes = [
        _TOK,
        "uni AS (SELECT doc_id AS id, substr(md5('u:' || t[i]), 1, 2) AS b"
        " FROM tok, UNNEST(generate_series(1, len(t))) AS u(i))",
        "bi AS (SELECT doc_id AS id, substr(md5('b:' || t[i] || ' ' || t[i+1]), 1, 2) AS b"
        " FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i))",
        "cnt AS (SELECT id, b, count(*) AS n"
        " FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) f GROUP BY id, b)",
        "nf AS (SELECT id, sum(n) AS nf FROM cnt GROUP BY id)",
        "xr AS MATERIALIZED ("
        "SELECT cnt.id, cnt.b, cnt.n / CAST(nf.nf AS DOUBLE) AS x"
        " FROM cnt JOIN nf ON cnt.id = nf.id"
        " UNION ALL SELECT DISTINCT doc_id AS id, '__bias__' AS b, 1.0 AS x"
        " FROM documents)",
        "lab AS (SELECT doc_id AS id,"
        " CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents)",
        "nn AS (SELECT count(DISTINCT id) AS n FROM xr)",
        f"bkt (b) AS (VALUES {buckets})",
        "w0 AS (SELECT b, 0.0 AS w FROM bkt)",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        ctes.append(
            f"z{t} AS MATERIALIZED (SELECT x.id, sum(x.x * w.w) AS z"
            f" FROM xr x JOIN w{p} w ON x.b = w.b GROUP BY x.id)"
        )
        ctes.append(
            f"e{t} AS MATERIALIZED (SELECT z.id,"
            f" 1.0 / (1.0 + exp(-z.z)) - lab.y AS e"
            f" FROM z{t} z JOIN lab ON z.id = lab.id)"
        )
        ctes.append(
            f"g{t} AS MATERIALIZED (SELECT x.b,"
            f" sum(x.x * e.e) / (SELECT CAST(n AS DOUBLE) FROM nn) AS g"
            f" FROM xr x JOIN e{t} e ON x.id = e.id GROUP BY x.b)"
        )
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT w.b,"
            f" w.w - {lr!r} * coalesce(g.g, 0.0) AS w"
            f" FROM w{p} w LEFT JOIN g{t} g ON w.b = g.b)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT b, round(w, {ROUND}) AS w FROM w{iters}"
    )


def hybrid_rrf_sql(k: int = 5, dims: int = 16, query_mod: int = 25,
                   rrf_k: int = 60) -> str:
    """Twin of the hybrid_rrf gate: RRF fusion (Cormack 2009) of the full-
    dimension and prefix-dimension cosine top-k lists (the matryoshka pair),
    6-dp-rounded rrf before re-ranking, doc-asc ties."""
    dot = (
        "list_aggregate(list_transform(list_zip({a}, {b}),"
        " t -> t[1] * t[2]), 'sum')"
    )
    cos = (
        f"CASE WHEN sqrt({dot.format(a='q.v', b='q.v')}) *"
        f" sqrt({dot.format(a='b.v', b='b.v')}) > 0 THEN"
        f" {dot.format(a='q.v', b='b.v')} /"
        f" (sqrt({dot.format(a='q.v', b='q.v')}) *"
        f" sqrt({dot.format(a='b.v', b='b.v')})) END"
    )
    topk = (
        "SELECT qid, nid, rnk FROM ("
        "  SELECT q.id AS qid, b.id AS nid,"
        f"        round({cos}, 9) AS c,"
        "         row_number() OVER (PARTITION BY q.id"
        f"          ORDER BY round({cos}, 9) DESC, b.id ASC) AS rnk"
        "   FROM {src} q JOIN {src} b ON q.id % {qm} = 0 AND q.id <> b.id"
        f"   WHERE {cos} IS NOT NULL)"
        " t WHERE rnk <= {k}"
    )
    return f"""WITH base AS MATERIALIZED (
   SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
 ex AS (SELECT id, x AS v FROM base),
 pr AS (SELECT id, x[1:{dims}] AS v FROM base),
 te AS MATERIALIZED ({topk.format(src='ex', qm=query_mod, k=k)}),
 tp AS MATERIALIZED ({topk.format(src='pr', qm=query_mod, k=k)}),
 fused AS (
   SELECT q, d, round(sum(part), {ROUND}) AS rrf FROM (
     SELECT qid AS q, nid AS d, 1.0 / ({rrf_k} + rnk) AS part FROM te
     UNION ALL
     SELECT qid AS q, nid AS d, 1.0 / ({rrf_k} + rnk) AS part FROM tp) u
   GROUP BY q, d)
SELECT q AS query_id, d AS doc_id, rrf,
       CAST(row_number() OVER (PARTITION BY q ORDER BY rrf DESC, d ASC) AS INT)
         AS rank
FROM fused"""


def cdc_chunks_sql(k: int = 2, div: int = 8, salt: str = "cdc") -> str:
    """Twin of operators/substrings.py::cdc_chunks — same md5 window
    boundary rule, per-doc running boundary sum, ordered reassembly."""
    h = _md5int(
        f"'{salt}:' || array_to_string(list_slice(t, i, i + {k} - 1), ' ')"
    )
    return f"""WITH {_TOK},
 pos AS (SELECT doc_id, i AS pos, t[i] AS tok,
     CASE WHEN i >= 2 AND i <= len(t) - {k} + 1
          AND {h} % {div} = 0 THEN 1 ELSE 0 END AS bnd
   FROM tok, unnest(generate_series(1, len(t))) AS u(i)
   WHERE len(t) > 0),
 ch AS (SELECT doc_id, pos, tok,
     sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS UNBOUNDED PRECEDING) AS chunk_id
   FROM pos)
SELECT doc_id AS id, CAST(chunk_id AS INT) AS chunk_id,
  CAST(count(*) AS INT) AS n_tokens,
  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
FROM ch GROUP BY doc_id, chunk_id"""


def _term_graph_ctes() -> str:
    """Shared derivation: filtered token sequence → adjacent-pair weighted
    term graph with portable md5 integer vertex ids (twin of
    operators/textrank.py::term_cooccurrence_graph)."""
    tid = _md5int("term")
    return f"""{_TOK},
 tf AS (SELECT doc_id, u.i AS rawpos, t[u.i] AS term
        FROM tok, unnest(generate_series(1, len(t))) AS u(i)
        WHERE length(t[u.i]) >= 3),
 sq AS (SELECT doc_id, term,
        row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS i
        FROM tf),
 cp AS (SELECT least(a.term, b.term) AS ta, greatest(a.term, b.term) AS tb,
        CAST(count(*) AS DOUBLE) AS w
        FROM sq a JOIN sq b ON a.doc_id = b.doc_id AND b.i = a.i - 1
        WHERE a.term <> b.term GROUP BY 1, 2),
 tmap AS (SELECT term, {tid} AS id FROM (SELECT DISTINCT term FROM sq)),
 v AS (SELECT DISTINCT id FROM tmap),
 e1 AS (SELECT m1.id AS src, m2.id AS dst, cp.w AS weight
        FROM cp JOIN tmap m1 ON cp.ta = m1.term
                JOIN tmap m2 ON cp.tb = m2.term),
 edges AS (SELECT src, dst, weight FROM e1
           UNION ALL SELECT dst AS src, src AS dst, weight FROM e1)"""


def textrank_sql(iters: int = 5, d: float = 0.85) -> str:
    """Twin of operators/textrank.py::textrank_terms — the unrolled weighted
    PageRank builder (oracles.pagerank_web_sql) over the term graph, mapped
    back to term strings."""
    from graphina_spark.oracles import pagerank_web_sql

    inner = pagerank_web_sql(iters=iters, d=d, edges_cte=_term_graph_ctes())
    tid = _md5int("term")
    return f"""WITH {_TOK},
 tf AS (SELECT doc_id, u.i AS rawpos, t[u.i] AS term
        FROM tok, unnest(generate_series(1, len(t))) AS u(i)
        WHERE length(t[u.i]) >= 3),
 tmap AS (SELECT term, {tid} AS id FROM (SELECT DISTINCT term FROM tf))
SELECT m.term, pr.pr AS score
FROM ({inner}) pr JOIN tmap m ON pr.id = m.id"""


def icws_sig_sql(k: int = 8, salt: str = "icws") -> str:
    """Twin of operators/icws.py::icws_signatures — identical md5 uniforms,
    ICWS constants, 9-dp-rounded argmin with token tie-break."""
    den = float(2**32 + 1)

    def u(kk: int, i: int) -> str:
        h = _md5int(f"'{salt}:{kk}:{i}:' || tok")
        return f"(({h} + 1) / {den})"

    parts = []
    for kk in range(k):
        parts.append(
            f"SELECT tok, {kk} AS r,"
            f" -ln({u(kk, 1)} * {u(kk, 2)}) AS rr,"
            f" -ln({u(kk, 3)} * {u(kk, 4)}) AS cc,"
            f" {u(kk, 5)} AS beta FROM vocab"
        )
    consts = " UNION ALL ".join(parts)
    return f"""WITH {_TOK},
 tf AS (SELECT doc_id AS id, tok, CAST(count(*) AS DOUBLE) AS w
        FROM (SELECT doc_id, unnest(t) AS tok FROM tok) u
        GROUP BY doc_id, tok),
 vocab AS (SELECT DISTINCT tok FROM tf),
 kc AS MATERIALIZED ({consts}),
 scored AS (
   SELECT tf.id, kc.r, tf.tok,
          floor(ln(tf.w) / kc.rr + kc.beta) AS tz,
          kc.cc / (exp(kc.rr * (floor(ln(tf.w) / kc.rr + kc.beta) - kc.beta))
                   * exp(kc.rr)) AS a
   FROM tf JOIN kc ON tf.tok = kc.tok),
 best AS (
   SELECT id, r, tok, tz,
          row_number() OVER (PARTITION BY id, r
                             ORDER BY round(a, 9) ASC, tok ASC) AS rn
   FROM scored)
SELECT id, CAST(r AS INT) AS r, tok, CAST(tz AS BIGINT) AS tz
FROM best WHERE rn = 1"""


def plsi_topics_sql(n_topics: int = 4, iters: int = 3, salt: str = "plsi") -> str:
    """Twin of operators/plsi.py::plsi_fit (phi output) — identical md5
    init, unrolled EM, per-topic normalization."""
    den = float(2**32 + 1)

    def u(tag: str, col: str) -> str:
        h = _md5int(f"'{salt}:{tag}:' || CAST({col} AS VARCHAR)")
        return f"(({h} + 1) / {den})"

    th_parts = " UNION ALL ".join(
        f"SELECT doc, {k} AS k, {u(f'theta:{k}', 'doc')} AS uu FROM docs"
        for k in range(n_topics)
    )
    ph_parts = " UNION ALL ".join(
        f"SELECT {k} AS k, tok, {u(f'phi:{k}', 'tok')} AS uu FROM vocab"
        for k in range(n_topics)
    )
    ctes = [
        _TOK,
        "tf AS MATERIALIZED (SELECT doc_id AS doc, tok, CAST(count(*) AS DOUBLE) AS n"
        " FROM (SELECT doc_id, unnest(t) AS tok FROM tok) u GROUP BY doc_id, tok)",
        "docs AS (SELECT DISTINCT doc FROM tf)",
        "vocab AS (SELECT DISTINCT tok FROM tf)",
        "doc_tot AS (SELECT doc, sum(n) AS nd FROM tf GROUP BY doc)",
        f"th0u AS ({th_parts})",
        "th0 AS MATERIALIZED (SELECT a.doc, a.k, a.uu / z.z AS t FROM th0u a"
        " JOIN (SELECT doc, sum(uu) AS z FROM th0u GROUP BY doc) z"
        " ON a.doc = z.doc)",
        f"ph0u AS ({ph_parts})",
        "ph0 AS MATERIALIZED (SELECT a.k, a.tok, a.uu / z.z AS p FROM ph0u a"
        " JOIN (SELECT k, sum(uu) AS z FROM ph0u GROUP BY k) z ON a.k = z.k)",
    ]
    for r in range(1, iters + 1):
        p = r - 1
        ctes.append(
            f"num{r} AS MATERIALIZED (SELECT tf.doc, tf.tok, th.k, tf.n,"
            f" th.t * ph.p AS v"
            f" FROM tf JOIN th{p} th ON tf.doc = th.doc"
            f" JOIN ph{p} ph ON th.k = ph.k AND tf.tok = ph.tok)"
        )
        ctes.append(
            f"den{r} AS MATERIALIZED (SELECT doc, tok, sum(v) AS z"
            f" FROM num{r} GROUP BY doc, tok)"
        )
        ctes.append(
            f"ct{r} AS MATERIALIZED (SELECT n.doc, n.tok, n.k,"
            f" n.n * n.v / d.z AS c FROM num{r} n"
            f" JOIN den{r} d ON n.doc = d.doc AND n.tok = d.tok)"
        )
        ctes.append(
            f"th{r} AS MATERIALIZED (SELECT s.doc, s.k, s.s / dt.nd AS t"
            f" FROM (SELECT doc, k, sum(c) AS s FROM ct{r} GROUP BY doc, k) s"
            f" JOIN doc_tot dt ON s.doc = dt.doc)"
        )
        ctes.append(
            f"pw{r} AS MATERIALIZED (SELECT k, tok, sum(c) AS s"
            f" FROM ct{r} GROUP BY k, tok)"
        )
        ctes.append(
            f"ph{r} AS MATERIALIZED (SELECT a.k, a.tok, a.s / z.z AS p"
            f" FROM pw{r} a JOIN (SELECT k, sum(s) AS z FROM pw{r} GROUP BY k) z"
            f" ON a.k = z.k)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT CAST(k AS INT) AS k, tok, round(p, {ROUND}) AS p FROM ph{iters}"
    )


def plsi_doc_topics_sql(n_topics: int = 4, iters: int = 3,
                        salt: str = "plsi") -> str:
    """Theta twin of plsi_topics_sql — same unrolled EM, doc-topic output."""
    body = plsi_topics_sql(n_topics=n_topics, iters=iters, salt=salt)
    head, _, _ = body.rpartition("\nSELECT")
    return (
        head
        + f"\nSELECT doc, CAST(k AS INT) AS k, round(t, {ROUND}) AS t"
        f" FROM th{iters}"
    )


def _classifier_prob_cte(salt: str = "clfw", scale: float = 4.0,
                         bias: float = -0.05) -> str:
    """The classifier_scores_sql body as a reusable CTE tail producing
    probs (id, prob) — identical arithmetic, 6-dp rounding."""
    inner = classifier_scores_sql(salt=salt, scale=scale, bias=bias)
    return f"probs AS (SELECT id, prob, label FROM ({inner}))"


def classifier_calibration_sql(n_bins: int = 10, salt: str = "clfw",
                               scale: float = 4.0, bias: float = -0.05) -> str:
    """Twin of operators/classify.py::classifier_calibration with the
    demo-weight scorer and lang='en' teacher labels."""
    return f"""WITH {_classifier_prob_cte(salt, scale, bias)},
 lab AS (SELECT doc_id AS id,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents)
SELECT CAST(least(CAST(floor(p.prob * {n_bins}) AS INT), {n_bins - 1}) AS INT)
         AS bin,
       count(*) AS n,
       round(avg(p.prob), {ROUND}) AS mean_prob,
       round(avg(l.y), {ROUND}) AS frac_pos
FROM probs p JOIN lab l ON p.id = l.id
GROUP BY 1"""


def classifier_auc_sql(salt: str = "clfw", scale: float = 4.0,
                       bias: float = -0.05) -> str:
    """Twin of operators/classify.py::classifier_auc — same grouped
    tie-aware rank-sum over the 6-dp probs."""
    return f"""WITH {_classifier_prob_cte(salt, scale, bias)},
 lab AS (SELECT doc_id AS id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
 s AS (SELECT p.prob AS score, l.y AS label
       FROM probs p JOIN lab l ON p.id = l.id),
 grp AS (SELECT score, count(*) AS cnt, sum(label) AS pos_c
         FROM s GROUP BY score),
 laid AS (SELECT score, cnt, pos_c,
          coalesce(sum(cnt) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
          FROM grp),
 agg AS (SELECT sum(pos_c) AS p, sum(cnt) AS t,
         sum(pos_c * (below + (cnt + 1) / 2.0)) AS rpos FROM laid)
SELECT round(CASE WHEN p = 0 OR t - p = 0 THEN 0.5
       ELSE (rpos - p * (p + 1) / 2.0) / (p * (t - p)) END, {ROUND}) AS auc,
       CAST(p AS BIGINT) AS npos, CAST(t - p AS BIGINT) AS nneg
FROM agg"""


def contrastive_pairs_sql(
    pos_threshold: float = 0.4,
    k_neg: int = 3,
    margin: int = 10,
    planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    tables: int = 2,
    max_bucket: int = 4096,
    neg_candidates: str = "lsh",
) -> str:
    """Twin of operators/contrastive.py::contrastive_pairs — the same LSH
    positive candidates, min-id group closure over positives, and
    candidate-bounded hard-negative re-rank (original (cosine, id) rank ≤
    k_neg + margin, group filter, re-rank, keep k_neg).

    ``neg_candidates="lsh"`` (the engine default) mirrors
    lsh_cosine_topk's bucketed candidate set — and because the engine
    passes the SAME planes/tables/seed/max_bucket as the positive
    generator, the negative pairs reuse the cc{t} bucket CTEs verbatim.
    ``"exact"`` mirrors the brute-force cosine_topk test baseline."""
    ctes = []
    for t in range(tables):
        mat = hyperplanes(dim, planes, seed + t)
        buckets = " + ".join(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),"
            f" CAST({row} AS DOUBLE[])) > 0 THEN {2**p} ELSE 0 END)"
            for p, row in enumerate(mat)
        )
        ctes.append(
            f"cb{t} AS (SELECT vec_id AS id, {buckets} AS bucket FROM embeddings)"
        )
        ctes.append(
            f"cc{t} AS (SELECT id, bucket FROM (SELECT id, bucket,"
            f" row_number() OVER (PARTITION BY bucket ORDER BY id) AS rn FROM cb{t})"
            f" WHERE rn <= {max_bucket})"
        )
        ctes.append(
            f"cp{t} AS (SELECT x.id AS a, y.id AS b"
            f" FROM cc{t} x JOIN cc{t} y ON x.bucket = y.bucket AND x.id < y.id)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM cp{t}" for t in range(tables))
    ctes.append(f"cand AS (SELECT DISTINCT a, b FROM ({union}))")
    ctes.append(
        f"posp AS (SELECT p.a, p.b, {_COS} AS cosine"
        f" FROM cand p JOIN embeddings x ON x.vec_id = p.a"
        f" JOIN embeddings y ON y.vec_id = p.b"
        f" WHERE {_COS} >= {pos_threshold})"
    )
    ctes.append(
        "psym AS (SELECT a AS u, b AS w FROM posp"
        " UNION ALL SELECT b, a FROM posp)"
    )
    ctes.append(
        "reach(id, r) AS ("
        "SELECT vec_id AS id, vec_id AS r FROM embeddings"
        " UNION SELECT s.w AS id, reach.r FROM reach JOIN psym s"
        " ON reach.id = s.u)"
    )
    ctes.append("grp AS (SELECT id, min(r) AS grp FROM reach GROUP BY id)")
    if neg_candidates == "lsh":
        nunion = " UNION ALL ".join(
            f"SELECT x.id AS qid, y.id AS nid"
            f" FROM cc{t} x JOIN cc{t} y"
            f" ON x.bucket = y.bucket AND x.id <> y.id"
            for t in range(tables)
        )
        ctes.append(
            f"npairs AS (SELECT DISTINCT qid, nid FROM ({nunion}))"
        )
        ctes.append(
            f"scored AS (SELECT p.qid, p.nid, {_COS} AS cosine"
            f" FROM npairs p JOIN embeddings x ON x.vec_id = p.qid"
            f" JOIN embeddings y ON y.vec_id = p.nid"
            f" WHERE {_COS} IS NOT NULL)"
        )
    elif neg_candidates == "exact":
        ctes.append(
            f"scored AS (SELECT x.vec_id AS qid, y.vec_id AS nid, {_COS} AS cosine"
            f" FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id"
            f" WHERE {_COS} IS NOT NULL)"
        )
    else:
        raise ValueError(
            f"no SQL twin for neg_candidates={neg_candidates!r}"
        )
    ctes.append(
        "rnk AS (SELECT qid, nid, cosine,"
        " row_number() OVER (PARTITION BY qid"
        " ORDER BY round(cosine, 9) DESC, nid ASC) AS rank FROM scored)"
    )
    ctes.append(
        f"filt AS (SELECT r.qid, r.nid, r.cosine,"
        f" row_number() OVER (PARTITION BY r.qid ORDER BY r.rank) AS nrank"
        f" FROM rnk r JOIN grp ga ON ga.id = r.qid"
        f" JOIN grp gb ON gb.id = r.nid"
        f" WHERE r.rank <= {k_neg + margin} AND ga.grp <> gb.grp)"
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f"""
SELECT a AS anchor, b AS other, 'pos' AS kind,
       round(cosine, {ROUND}) AS score, 0 AS rank FROM posp
UNION ALL
SELECT qid, nid, 'neg', round(cosine, {ROUND}), CAST(nrank AS INT)
FROM filt WHERE nrank <= {k_neg}"""
    )


def gopher_rules_sql() -> str:
    """Twin of operators/curation.py::gopher_rules — identical tokenizer,
    line rules, and thresholds in DuckDB list/string functions."""
    stops = ", ".join(f"'{s}'" for s in (
        "the", "be", "to", "of", "and", "that", "have", "with"
    ))
    return f"""WITH tok AS (
   SELECT doc_id AS id, text,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                      x -> x <> '') AS t
   FROM documents),
 base AS (
   SELECT id, text, t,
          CAST(len(t) AS BIGINT) AS n_words,
          CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
               AS BIGINT) AS word_chars,
          length(text) - length(replace(text, '#', '')) AS hashes,
          (length(text) - length(replace(text, '...', ''))) / 3.0 AS dots,
          list_filter(string_split(text, chr(10)), x -> trim(x) <> '')
            AS lines
   FROM tok),
 feat AS (
   SELECT id, n_words,
          CASE WHEN n_words > 0 THEN word_chars / CAST(n_words AS DOUBLE)
               ELSE 0.0 END AS mwl,
          (hashes + dots) / greatest(n_words, 1) AS sym,
          len(lines) AS n_lines,
          len(list_filter(lines, x -> regexp_matches(ltrim(x), '^[-*•]')))
            AS bullets,
          len(list_filter(lines,
              x -> regexp_matches(rtrim(x), '(\\.\\.\\.|…)$'))) AS ellipses,
          len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS alpha,
          CAST(len(list_intersect(list_distinct(t), [{stops}]))
               AS BIGINT) AS n_stop
   FROM base),
 rat AS (
   SELECT id, n_words, mwl, sym,
          CASE WHEN n_lines > 0 THEN bullets / CAST(n_lines AS DOUBLE)
               ELSE 0.0 END AS bf,
          CASE WHEN n_lines > 0 THEN ellipses / CAST(n_lines AS DOUBLE)
               ELSE 0.0 END AS ef,
          CASE WHEN n_words > 0 THEN alpha / CAST(n_words AS DOUBLE)
               ELSE 0.0 END AS af,
          n_stop
   FROM feat)
SELECT id, n_words,
       round(mwl, 6) AS mean_word_len,
       round(sym, 6) AS symbol_ratio,
       round(bf, 6) AS bullet_frac,
       round(ef, 6) AS ellipsis_frac,
       round(af, 6) AS alpha_word_frac,
       n_stop,
       (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        AND sym < 0.1 AND bf < 0.9 AND ef < 0.3 AND af >= 0.8
        AND n_stop >= 2) AS pass
FROM rat"""
