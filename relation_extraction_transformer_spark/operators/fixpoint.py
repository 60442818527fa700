"""The one round loop of the iterative graph operators: :func:`fixpoint`
runs to a fixpoint under a cap (connected components, the k-core peel),
:func:`rounds` runs exactly n rounds (PageRank and label propagation,
whose DuckDB twins unroll the same n)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

CHECKPOINT_EVERY = 5


def fixpoint(state: DataFrame, step, name: str, max_rounds: int) -> DataFrame:
    """``state`` -> ``step(state, changed)``, ``localCheckpoint``-ed each
    round, until a round changes nothing.  The step passes a frame
    through ``changed(df, cond)`` to count the rows where ``cond`` holds;
    the count is an ``Observation`` filled by the round's own checkpoint,
    so it adds no job, and a retried task or re-run stage can only
    inflate a non-zero count, never move it to or from 0.  Raises
    ``RuntimeError`` if round ``max_rounds`` still changes something."""
    for _ in range(max_rounds):
        obs = Observation()

        def changed(df: DataFrame, cond) -> DataFrame:
            return df.observe(obs, F.count_if(cond).alias("n"))

        state = step(state, changed).localCheckpoint(eager=True)
        if obs.get["n"] == 0:
            return state
    raise RuntimeError(
        f"{name} did not converge in {max_rounds} rounds: the last one "
        "still changed something"
    )


def rounds(state: DataFrame, step, n: int) -> DataFrame:
    """``step`` applied ``n`` times, ``localCheckpoint``-ing the state
    every ``CHECKPOINT_EVERY`` rounds so plan depth stays bounded at any
    ``n``.  Never after the last round: the caller's action runs that,
    and the rounds between two checkpoints run as one job."""
    for i in range(1, n + 1):
        state = step(state)
        if i % CHECKPOINT_EVERY == 0 and i < n:
            state = state.localCheckpoint(eager=True)
    return state
