"""Linear text-classifier inference over hashed bag-of-n-gram features.

The quality-classifier stage of modern pretraining pipelines (fastText
model-based filtering in CCNet/RefinedWeb; the FineWeb-Edu educational-value
scorer) is, at serving time, a *linear* model over sparse lexical features:

    logit(doc) = bias + (1/N) · Σ_features  n_f · w_f          (mean pooling)
    prob       = σ(logit),   label = prob ≥ 0.5

Joulin et al., *Bag of Tricks for Efficient Text Classification* (fastText,
EACL 2017) — hashed unigram+bigram features, mean-pooled, linear head.
Training happens offline on a sample; what a 100 TB pipeline needs from the
*engine* is exactly this inference pass, at full corpus scale, with a model
that arrives as data (a weight table), not code.

Feature hashing, engine-portable: bucket = first 2 hex chars of
md5('u:'‖token) / md5('b:'‖tok1‖' '‖tok2) — the same 256-bucket digest-prefix
trick as operators/dsir.py, so DuckDB replays it byte-for-byte.  Real models
use 2^20+ buckets; the bucket count here is a fixture constant, the plan
shape (explode → per-doc bucket counts → broadcast weight join → one agg) is
the production shape and is independent of the bucket count.

Scale shape: per-doc counts = one explode + map-side-combined groupBy
(≤ buckets·docs rows); the weight table joins as a **broadcast** (a 2^20-row
float table is ~8 MB — always under the broadcast threshold); one final
groupBy(id) agg.  Zero driver state, nothing quadratic, no Python UDFs.

Extension beyond the reference (no text pipeline in habedi/graphina).
Tokenization is the frozen convention of functions/textstats.py:36.
DuckDB twin: oracles_text.py::classifier_scores_sql.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphina_spark.functions.textstats import tokens_col

#: 2 hex chars of md5 = 256 feature buckets (fixture-sized; see module doc).
N_BUCKETS = 256


def _feature_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, fs): per-document hashed feature-bucket array — unigram buckets
    md5('u:'‖tok) and bigram buckets md5('b:'‖tok1‖' '‖tok2), 2-hex-prefix."""
    toks = df.select(F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("t"))
    uni = F.transform(F.col("t"), lambda x: F.substring(F.md5(F.concat(F.lit("u:"), x)), 1, 2))
    bi = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1),"
            " i -> substring(md5(concat('b:', t[i-1], ' ', t[i])), 1, 2))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return toks.select("id", F.concat(uni, bi).alias("fs"))


def hashed_feature_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, b, n): per-document hashed feature counts (see _feature_arrays)."""
    feats = _feature_arrays(df, id_col, text_col)
    return (
        feats.select("id", F.explode("fs").alias("b"))
        .groupBy("id", "b")
        .agg(F.count("*").alias("n"))
    )


def classifier_scores(
    df: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_feats, logit, prob, label) for every document in ``df``.

    ``weights`` is a model-as-data frame ``(b: string, w: double)`` keyed by
    feature bucket; missing buckets score 0 (absent from the table).  Mean
    pooling over the document's feature multiset (fastText convention);
    feature-less documents get logit = bias.  ``label`` = prob ≥ 0.5.
    """
    counts = hashed_feature_counts(df, id_col, text_col)
    scored = (
        counts.join(F.broadcast(weights), "b", "left")
        .groupBy("id")
        .agg(
            F.sum("n").alias("n_feats"),
            F.sum(F.col("n") * F.coalesce("w", F.lit(0.0))).alias("dot"),
        )
        .select(
            "id",
            "n_feats",
            (F.lit(bias) + F.col("dot") / F.col("n_feats")).alias("logit"),
        )
    )
    ids = df.select(F.col(id_col).alias("id")).distinct()
    out = ids.join(scored, "id", "left").select(
        "id",
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("logit", F.lit(float(bias))).alias("logit"),
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit")))
    return out.select(
        "id",
        "n_feats",
        F.round("logit", 6).alias("logit"),
        F.round(prob, 6).alias("prob"),
        (prob >= 0.5).alias("label"),
    )


def demo_weights(spark: SparkSession, salt: str = "clfw", scale: float = 4.0) -> DataFrame:
    """Deterministic md5-derived demo weight table ``(b, w)`` over all 256
    buckets: w = (md5int('<salt>:'‖b)/2^32 − 0.5)·scale — a stand-in for a
    trained model, reproducible in any engine (twin arithmetic in the
    oracle).  Computed driver-side (256 rows) and broadcast."""
    rows = []
    for i in range(N_BUCKETS):
        b = format(i, "02x")
        h = int(hashlib.md5(f"{salt}:{b}".encode()).hexdigest()[:8], 16)
        rows.append((b, (h / 4294967296.0 - 0.5) * scale))
    return spark.createDataFrame(rows, "b string, w double")


BIAS_BUCKET = "__bias__"


def training_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, b, x) — mean-pooled feature values x = n/nf per doc (the
    inference convention) plus a constant ``__bias__`` feature of 1.0, so
    the bias trains as just another weight and the whole model stays one
    (b, w) frame.  Documents with zero features emit only their bias row."""
    feats = _feature_arrays(df, id_col, text_col)
    # the mean-pool denominator nf = Σ_b n(id,b) is simply |fs| — known
    # BEFORE the explode, so carrying it through the one groupBy(id, b)
    # replaces the groupBy(id) + re-join passes (2 shuffles saved; the
    # division sees the identical integers, so values are bit-identical)
    exploded = feats.select(
        "id", F.size("fs").alias("nf"), F.explode("fs").alias("b")
    )
    x = (
        exploded.groupBy("id", "b")
        .agg(F.count("*").alias("n"), F.first("nf").alias("nf"))
        .select("id", "b", (F.col("n") / F.col("nf")).alias("x"))
    )
    ids = df.select(F.col(id_col).alias("id")).distinct()
    return x.unionAll(
        ids.select("id", F.lit(BIAS_BUCKET).alias("b"), F.lit(1.0).alias("x"))
    )


def train_linear_classifier(
    df: DataFrame,
    labels: DataFrame,
    iters: int = 3,
    lr: float = 4.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(b, w) — train the fastText-style linear head IN-ENGINE by full-batch
    gradient descent on logistic loss: w ← w − lr·(1/n)·Σ_i (σ(w·x_i) −
    y_i)·x_i, starting from w = 0 (σ = 0.5 everywhere — no random init, so
    the trajectory is deterministic in any engine).  ``labels`` is (id, y)
    with y ∈ {0,1}; docs absent from ``labels`` are ignored.  The returned
    table (6-dp rounded, bias under the ``__bias__`` bucket) feeds
    :func:`classifier_scores` with bias=0 — this is the corpus-scale
    model-refresh loop of a quality-filtering pipeline (teacher labels in,
    model-as-data out), cf. CCNet / FineWeb-Edu model-based filtering.

    Scale shape per iteration: TWO shuffles — dot products (join the
    broadcast 257-row weight table, groupBy(id) with map-side partial
    sums) and gradient (groupBy(b), 257 cells, map-side combined) — plus
    one broadcast-sized weight update.  n (a scalar) is computed ONCE
    before the loop.  Nothing grows with iterations (weights re-materialize
    each round); nothing is per-pair; a 100 TB corpus streams through each
    epoch exactly twice.
    """
    from graphina_spark.plans.materialize import local_materialize as _mat

    spark = df.sparkSession
    x = training_features(df, id_col, text_col)
    y = labels.select("id", F.col("y").cast("double").alias("y"))
    xy = x.join(y, "id", "left_semi").transform(_mat)
    n = xy.select("id").distinct().count()
    if n == 0:
        raise ValueError("train_linear_classifier: no labeled documents")
    buckets = [format(i, "02x") for i in range(N_BUCKETS)] + [BIAS_BUCKET]
    w = spark.createDataFrame([(b, 0.0) for b in buckets], "b string, w double")
    for _ in range(iters):
        z = (
            xy.join(F.broadcast(w), "b")
            .groupBy("id")
            .agg(F.sum(F.col("x") * F.col("w")).alias("z"))
        )
        err = z.join(y, "id").select(
            "id",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))) - F.col("y")).alias("e"),
        )
        grad = (
            xy.join(err, "id")
            .groupBy("b")
            .agg((F.sum(F.col("x") * F.col("e")) / F.lit(float(n))).alias("g"))
        )
        w = (
            w.join(grad, "b", "left")
            .select("b", (F.col("w") - F.lit(lr) * F.coalesce("g", F.lit(0.0))).alias("w"))
            .transform(_mat)
        )
    return w.select("b", F.round("w", 6).alias("w"))


def classifier_calibration(
    scored: DataFrame, labels: DataFrame, n_bins: int = 10
) -> DataFrame:
    """(bin, n, mean_prob, frac_pos) — reliability diagram of a scored
    corpus against teacher labels (``scored`` = classifier_scores output,
    ``labels`` = (id, y)): bin by floor(prob·n_bins), compare the mean
    predicted probability with the empirical positive rate per bin — the
    standard is-the-filter-honest readout before anyone thresholds on the
    scores.  One join + one groupBy; integer bin keys."""
    b = F.least(
        F.floor(F.col("prob") * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    return (
        scored.select("id", "prob")
        .join(labels.select("id", F.col("y").cast("double").alias("y")), "id")
        .select(b.alias("bin"), "prob", "y")
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("prob"), 6).alias("mean_prob"),
            F.round(F.avg("y"), 6).alias("frac_pos"),
        )
    )


def classifier_auc(scored: DataFrame, labels: DataFrame) -> DataFrame:
    """One row (auc, npos, nneg) — tie-aware Mann-Whitney AUC of the
    classifier probabilities against teacher labels: the links family's
    AUC tail (plans/ordered.py::rank_auc) on doc scores.  Probs are already
    6-dp rounded, so tie groups are engine-identical."""
    from graphina_spark.plans.ordered import rank_auc

    return rank_auc(
        scored.select("id", F.col("prob").alias("score"))
        .join(labels.select("id", F.col("y").cast("int").alias("label")), "id")
    )
