"""SparkSession factory tuned for the link-graph workload.

Local-mode testing uses ``local[N]``; the same configs are what we would
ship in ``spark-submit --conf`` flags on a real cluster (see jobs/).
"""

from __future__ import annotations

import contextlib
import os
from typing import Iterator

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "graphina_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with graph-workload defaults.

    - AQE on (runtime shuffle coalescing + skew-join splitting backstop;
      our adjacency shards handle hub skew structurally, AQE catches the rest)
    - Arrow on (all html/text UDFs are vectorized pandas UDFs)
    - UTC timezone (oracle comparisons against DuckDB's UTC-naive timestamps)
    - shuffle partitions sized to cores, not the 200 default
    - driver heap ``SPARK_GRAFT_DRIVER_MEM``, else half of physical RAM up
      to 16g: local mode runs every task in the driver JVM, and a heap near
      RAM lets it grow until the OS kills it
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N; match parallelism so superstep shuffles use every core
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)

    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # shuffled-hash beats sort-merge for ad-hoc joins (no sort of the
        # big side); the superstep kernels do not depend on it: they pin
        # their own plans (plans/superstep.py)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(ram_mb // 2, 16384)}m")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def pinned_conf(spark: SparkSession, settings: dict[str, str]) -> Iterator[None]:
    """Set ``settings`` for the block, then give each key back the caller's
    value, or unset it if the caller had not set it."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
