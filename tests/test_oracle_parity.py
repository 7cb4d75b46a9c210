"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB over the same parquet tables,
compare row count, column names, and order-insensitive values."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_run(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def norm_cell(x):
    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        return round(x, 6)
    return x


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def _shard_names():
    """All gate names, optionally filtered to one shard (i of n) so the
    parallel runner (jobs/run_tests.py) can split this file — the single
    slowest in the suite — across processes: ORACLE_SHARD=i/n."""
    names = sorted(entrymod.queries().keys())
    spec = os.environ.get("ORACLE_SHARD")
    if not spec:
        return names
    i, n = (int(x) for x in spec.split("/"))
    return [nm for k, nm in enumerate(names) if k % n == i]


@pytest.mark.parametrize("name", _shard_names())
def test_parity(spark, sf_dir, name):
    q = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    sdf = q(spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns
    assert len(srows) >= 0
    if name not in oracles:
        pytest.skip(f"{name}: rows-only check (no SQL oracle)")
    ocols, orows = duck_run(oracles[name], sf_dir)
    assert sorted(scols) == sorted(ocols), f"schema mismatch: {scols} vs {ocols}"
    assert len(srows) == len(orows), f"row count {len(srows)} vs {len(orows)}"
    a = norm_rows(scols, [tuple(r) for r in srows])
    b = norm_rows(ocols, orows)
    mism = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mism, f"{len(mism)} mismatching rows; first: {mism[:3]}"


@pytest.mark.parametrize("name", ["textrank_docs", "pagerank_parts"])
def test_oracle_fits_memory(sf_dir, tmp_path, name):
    """The unrolled PageRank-chain oracles run in 2 GB on 2 DuckDB threads.
    Each round reads the previous round's ranks twice; unless that CTE is
    MATERIALIZED, DuckDB inlines it and the plan doubles every round.  No
    Spark: this guards the oracle SQL alone."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{tmp_path}'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    assert con.execute(entrymod.oracle_sql()[name]).fetchall()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
