"""One driver for the engine's iterative DataFrame loops: the superstep of
Pregel (GraphX, OSDI 2014) — run a synchronous round, cut lineage, decide
whether to stop.  Connected components, PageRank, label propagation and
k-core peeling run through it."""

from __future__ import annotations

from itertools import count
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int | None,
    changed: Column | None = None,
) -> DataFrame:
    """Apply ``step`` round by round to a ``localCheckpoint``ed ``state``.

    Each round's result is checkpointed too, so round ``n``'s plan never
    holds rounds ``0..n-1`` (a state read twice per round would otherwise
    re-run its whole history).  ``changed`` is a boolean Column over the
    next state, e.g. ``root != prev`` with the step carrying the old value;
    its true rows are counted by an ``Observation`` on the checkpoint's own
    job, so the halt test costs no job.  The loop stops after the first
    round where that count is 0 (later rounds of a synchronous update would
    be the identity) or after ``max_rounds``; ``None`` means no cap."""
    state = state.localCheckpoint()
    for _ in range(max_rounds) if max_rounds is not None else count():
        nxt = step(state)
        if changed is None:
            state = nxt.localCheckpoint()
            continue
        obs = Observation()
        state = nxt.observe(obs, F.count_if(changed).alias("changed")).localCheckpoint()
        if obs.get["changed"] == 0:
            break
    return state
