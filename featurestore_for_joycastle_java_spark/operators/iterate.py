"""The engine's one fixpoint loop.

Every iterative operator (PageRank, HITS, label propagation, k-core,
connected components, BFS, the power iterations) is a ``step`` from one
state frame to the next, run here round by round. The loop owns what each
of them would otherwise copy:

- materializing the state every round, so lineage stays one round deep
  and each round plans against a constant-size plan;
- the optional per-round changed-count action, which ends the loop at 0;
- the round bound, reported back as ``converged``;
- one INFO log line per round (name, round, changed count, seconds).

Materialization is ``localCheckpoint``, or a reliable ``checkpoint`` when
``checkpoint_dir`` is given: a local checkpoint lives in executor block
storage and dies with its executor, a reliable one survives that at the
cost of a distributed-FS write per round.
"""

from __future__ import annotations

import itertools
import logging
import time
from typing import Callable

from pyspark.sql import DataFrame

__all__ = ["fixpoint", "materialize"]

log = logging.getLogger(__name__)


def materialize(
    df: DataFrame, *, eager: bool, checkpoint_dir: str | None = None
) -> DataFrame:
    """``df`` with its lineage cut. A lazy local checkpoint is persisted by
    the first action over it, so a caller that needs an action anyway (a
    count) pays one job, not checkpoint-then-scan. Reliable checkpoints
    are always written eagerly; a later scan reads the written files."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def fixpoint(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_rounds: int | None,
    changed: Callable[[DataFrame], int] | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state)`` for up to ``max_rounds`` rounds (no
    bound when ``None``) and return ``(state, converged)``.

    Without ``changed`` every round's state is checkpointed eagerly and
    the loop runs all ``max_rounds``; ``converged`` is then ``False``.
    With ``changed``, the state is checkpointed lazily and
    ``changed(state)`` is the round's one action: it persists the state
    and returns a driver-side count. The loop ends, converged, in the
    first round whose count is 0."""
    rounds = itertools.count(1) if max_rounds is None else range(1, max_rounds + 1)
    for rnd in rounds:
        t0 = time.monotonic()
        state = materialize(
            step(state), eager=changed is None, checkpoint_dir=checkpoint_dir
        )
        n = None if changed is None else changed(state)
        log.info("%s round %d: changed=%s %.3fs", name, rnd, n, time.monotonic() - t0)
        if n == 0:
            return state, True
    return state, False
