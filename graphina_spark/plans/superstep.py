"""The superstep loop of PageRank, connected components and label
propagation: a kernel supplies its initial state and its step, the loop
owns resume, materialization, checkpointing, the stop rule, ``stats``, job
descriptions (``<kernel>:init``, ``<kernel>:<iteration>``) and cache release.

Materialization rule — every state is materialized, so the plan never grows
and the next step's id-keyed join stays exchange-free (plans/materialize.py):
eagerly when a ``score`` is taken (the score and the next step both read
it); else through ``checkpoint.save`` when a checkpoint is given (saved
after the score in every case, the score as the manifest's ``delta``); else
lazily when the kernel declares ``read_once`` (the next step reads the state
in one action, which then runs the materialization), and eagerly otherwise.
A step's cached frames are released once the next step has returned, since
its action may run a lazy materialization that reads them.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphina_spark.plans.checkpoint import CheckpointManager
from graphina_spark.plans.materialize import local_materialize

_JOB_DESCRIPTION = "spark.job.description"


def changed_count(col: str) -> Callable[[DataFrame, DataFrame], int]:
    """Score of the label kernels: how many vertices changed ``col``.  With
    ``tol=1`` the loop stops once no label changed."""
    return lambda new, old: (
        new.alias("n")
        .join(old.alias("o"), "id")
        .where(F.col(f"n.{col}") != F.col(f"o.{col}"))
        .count()
    )


def run_supersteps(
    spark: SparkSession,
    kernel: str,
    init: Callable[[], DataFrame],
    step: Callable[[DataFrame], tuple[DataFrame, list[DataFrame]]],
    n_iters: int,
    score: Callable[[DataFrame, DataFrame], float] | None = None,
    tol: float = 0.0,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
    stats: dict | None = None,
    release: Sequence[DataFrame] = (),
    read_once: bool = False,
) -> DataFrame:
    """Return the state after at most ``n_iters`` supersteps (resumed ones
    included) of ``state, cached = step(state)``, stopping early once
    ``score(new, old) < tol``.  ``init()`` runs only when nothing is
    resumed.  ``stats`` receives ``{"iterations", "delta"}`` (the last
    score).  ``release`` frames are unpersisted on every exit path."""
    sc = spark.sparkContext
    caller_desc = sc.getLocalProperty(_JOB_DESCRIPTION)
    held: list[DataFrame] = []
    try:
        sc.setJobDescription(f"{kernel}:init")
        found = checkpoint.latest(spark) if checkpoint is not None and resume else None
        start, state = (found[0] + 1, found[1]) if found else (0, init())
        state = local_materialize(state)

        lazy = read_once and score is None and checkpoint is None
        for it in range(start, n_iters):
            sc.setJobDescription(f"{kernel}:{it}")
            new, cached = step(state)
            for df in held:
                df.unpersist()
            held = cached
            s = None
            if score is not None:
                new = local_materialize(new)
                s = score(new, state)
            if checkpoint is not None:
                new = checkpoint.save(spark, new, it, delta=s)
            elif score is None:
                new = local_materialize(new, eager=not lazy)
            state = new
            if stats is not None:
                stats.update(iterations=it + 1, delta=s)
            if s is not None and s < tol:
                break
        if lazy and start < n_iters:
            state.count()  # run the last deferred materialization
        return state
    finally:
        for df in (*held, *release):
            df.unpersist()
        sc.setLocalProperty(_JOB_DESCRIPTION, caller_desc)
