"""The superstep loop of PageRank, connected components and label
propagation: a kernel supplies its initial state and its step, the loop
owns resume, materialization, checkpointing, the stop rule, ``stats``, job
descriptions (``<kernel>:init``, ``<kernel>:<iteration>``), the plan pins
and cache release.

Pinned plans — a superstep's physical plan must not change shape with the
input size or the session's defaults.  Inside the loop AQE is off (shapes
are static and pre-partitioned, the rule plans/materialize.py follows) and
``autoBroadcastJoinThreshold`` is -1, so no graph-sized frame turns into a
broadcast once it is small enough; every graph-sized join a kernel makes is
marked ``hint("shuffle_hash")`` on the side to build (without the hint
Spark plans sort-merge joins).  The state stays hash-partitioned by id, so
id-keyed joins against the state and against id/src-partitioned frames
cached with ``partitioned_cache`` run without an exchange.  Both confs go
back to the caller's values on exit.

Materialization rule — every state (initial, resumed, stepped) is
``local_materialize(..., eager=False)``, so the plan never grows and the next
step's id-keyed join stays exchange-free (plans/materialize.py).  The first
action that reads a state runs its materialization: the step's own action,
the ``score`` or ``checkpoint.save`` (which writes the materialized frame,
the score as the manifest's ``delta``; the materialized frame carries the
partitioning into the next step).  After each superstep's score
and save the loop settles the previous state: if no action has computed it
yet, one RDD-level ``count()`` does, so at most one uncomputed state is ever
chained.  Only then are the frames that state was built from released; a
step caches them through the loop's ``cache``, so they are released on every
exit path, even when the step's own action raises.  The final state is
settled the same way.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphina_spark.plans.checkpoint import CheckpointManager
from graphina_spark.plans.materialize import local_materialize, settle
from graphina_spark.session import pinned_conf

_JOB_DESCRIPTION = "spark.job.description"
_PINNED = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def changed_count(col: str) -> Callable[[DataFrame, DataFrame], int]:
    """Score of the label kernels: how many vertices changed ``col``.  With
    ``tol=1`` the loop stops once no label changed."""
    return lambda new, old: (
        new.alias("n")
        .join(old.alias("o").hint("shuffle_hash"), "id")
        .where(F.col(f"n.{col}") != F.col(f"o.{col}"))
        .count()
    )


def run_supersteps(
    spark: SparkSession,
    kernel: str,
    init: Callable[[], DataFrame],
    step: Callable[[DataFrame, Callable[[DataFrame], DataFrame]], DataFrame],
    n_iters: int,
    score: Callable[[DataFrame, DataFrame], float] | None = None,
    tol: float = 0.0,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
    stats: dict | None = None,
    release: Sequence[DataFrame] = (),
) -> DataFrame:
    """Return the state after at most ``n_iters`` supersteps (resumed ones
    included) of ``state = step(state, cache)``, stopping early once
    ``score(new, old) < tol``.  ``cache(df)`` returns ``df`` cached and
    owned by the loop.  ``init()`` runs only when nothing is resumed; a
    resumed state whose manifest ``delta`` already met ``tol`` is returned
    without a superstep.  ``stats`` receives ``{"iterations", "delta"}``
    (the last score, or the resumed manifest's).
    ``release`` frames are unpersisted on every exit path."""
    sc = spark.sparkContext
    caller_desc = sc.getLocalProperty(_JOB_DESCRIPTION)
    held: list[DataFrame] = []  # the cached frames the state was built from
    fresh: list[DataFrame] = []  # the running step's

    def cache(df: DataFrame) -> DataFrame:
        fresh.append(df.cache())
        return fresh[-1]

    try:
        with pinned_conf(spark, _PINNED):
            sc.setJobDescription(f"{kernel}:init")
            found = checkpoint.latest(spark) if checkpoint is not None and resume else None
            start, state, delta = (0, init(), None) if not found else (
                found[0] + 1, found[1], found[2]["delta"])
            state = local_materialize(state, eager=False)
            if stats is not None:
                stats.update(iterations=start, delta=delta)
            if score is not None and delta is not None and delta < tol:
                start = n_iters  # the checkpointed run already stopped
            for it in range(start, n_iters):
                sc.setJobDescription(f"{kernel}:{it}")
                new = local_materialize(step(state, cache), eager=False)
                s = score(new, state) if score is not None else None
                if checkpoint is not None:
                    checkpoint.save(new, it, delta=s)
                settle(state)
                for df in held:
                    df.unpersist()
                held = fresh[:]
                fresh.clear()
                state = new
                if stats is not None:
                    stats.update(iterations=it + 1, delta=s)
                if s is not None and s < tol:
                    break
            settle(state)
            return state
    finally:
        for df in (*held, *fresh, *release):
            df.unpersist()
        sc.setLocalProperty(_JOB_DESCRIPTION, caller_desc)
