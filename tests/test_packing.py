"""Sequence packing + global prefix-sum invariants."""

from pyspark.sql import functions as F


def test_global_cumsum_matches_serial(spark):
    from graphina_spark.plans.ordered import global_cumsum
    from graphina_spark.session import pinned_conf

    rows = [(i, (i * 37) % 101, (i % 7) + 1, (i * 11) % 5 - 2) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k long, v long, w long")
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    for p in ("2", "7"):
        with pinned_conf(spark, {"spark.sql.shuffle.partitions": p}):
            one = global_cumsum(df, ["k", "id"], "v").collect()
            two_df = global_cumsum(df, ["k", "id"], ["v", "w"], out_col=["pv", "pw"])
            two = two_df.collect()
        # both sums share one sort: a single Window operator
        plan = two_df._jdf.queryExecution().optimizedPlan().toString()
        assert sum(ln.lstrip(" +-:").startswith("Window ") for ln in plan.splitlines()) == 1
        acc, want = 0, {}
        for i, k, v, w in order:
            want[i] = acc
            acc += v
        assert {r["id"]: r["prefix"] for r in one} == want  # any partition count
        # two value columns: each gets its own exclusive prefix
        av, aw, want2 = 0, 0, {}
        for i, k, v, w in order:
            want2[i] = (av, aw)
            av, aw = av + v, aw + w
        assert {r["id"]: (r["pv"], r["pw"]) for r in two} == want2


def test_assign_dense_ids_is_sorted_distinct_rank(spark):
    """(id, key) = the 0-based rank of the sorted distinct keys, as a long,
    whatever the input order, duplicates and partition count."""
    import random

    from pyspark.sql.types import LongType

    from graphina_spark.graph import assign_dense_ids
    from graphina_spark.session import pinned_conf

    keys = [f"k{(i * 7919) % 61:03d}" for i in range(300)]  # 61 distinct, dups
    random.Random(5).shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], "key string").repartition(5)
    want = {k: i for i, k in enumerate(sorted(set(keys)))}
    for p in ("1", "3", "7"):
        with pinned_conf(spark, {"spark.sql.shuffle.partitions": p}):
            ids = assign_dense_ids(df, key="key")
            got = ids.collect()
        assert ids.columns == ["id", "key"]
        assert ids.schema["id"].dataType == LongType()
        assert len(got) == len(want)
        assert {r["key"]: r["id"] for r in got} == want


def test_packing_layout_is_contiguous_and_deterministic(spark, sf_dir):
    from graphina_spark.operators.packing import pack_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = pack_documents(docs, seq_len=512).collect()
    b = pack_documents(docs.repartition(13), seq_len=512).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    laid = sorted(a, key=lambda r: r["start_tok"])
    pos = 0
    for r in laid:
        assert r["start_tok"] == pos  # no gaps, no overlaps
        assert r["seq_first"] == r["start_tok"] // 512
        assert r["off_first"] == r["start_tok"] % 512
        last = max(r["start_tok"] + r["n_tokens"] - 1, r["start_tok"])
        assert r["seq_last"] == last // 512
        pos += r["n_tokens"]
    total = sum(r["n_tokens"] for r in laid)
    assert pos == total and total > 0


def test_global_cumsum_is_one_pass(spark):
    """The call launches two jobs, the range sampling and the partition
    sums; the sums job computes the pinned partitions, so a collect of the
    result launches one job and every later collect reads the same rows.
    The offsets are a literal: the plan holds the pin as its only
    ``LogicalRDD`` and no join."""
    from graphina_spark.plans.ordered import global_cumsum
    from graphina_spark.session import pinned_conf

    sc = spark.sparkContext
    listeners = sc._jsc.sc().listenerBus()

    def jobs(group, call):
        sc.setJobGroup(group, group)
        try:
            out = call()
        finally:
            sc._jsc.clearJobGroup()
        listeners.waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    df = spark.range(2000).select(
        "id", ((F.col("id") * 37) % 101).alias("k"), (F.col("id") % 7).alias("v")
    )
    conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "4"}
    with pinned_conf(spark, conf):
        res, n_call = jobs("cumsum-call", lambda: global_cumsum(df, ["k", "id"], "v"))
        first, n_collect = jobs("cumsum-collect", res.collect)
        second = res.collect()
    assert (n_call, n_collect) == (2, 1)
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1
    assert "Join" not in plan
