"""Driver-loop primitives for the iterative operators.

`pinned` is the one place a frame is persisted: an operator pins its
loop-invariant input for the length of a ``with`` block, and the block's
exit unpersists it, also when a job inside fails. Nothing the package
returns is a persisted frame.

`checkpoint_nonempty` ends each level of the frontier loops (bfs, entity
expansion, beam search, BPE merges). `fixpoint` drives every loop whose
state is one frame rewritten per round: the rank family
(`centrality._propagate`), HITS, label propagation, the k-core and k-truss
peels, both `dedup.connected_components` algorithms and `sampling.ipf_rake`.
Under AQE a lazy checkpoint still plans its round at once and runs the
round's shuffle-map stages as jobs right then; only the last stage waits for
the consumer (or for the convergence count)."""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame


class NotConverged(RuntimeError):
    """An iterative operator's state still changed in its last allowed
    round."""


@contextmanager
def pinned(df: DataFrame | None = None) -> Iterator:
    """Persist frames for the length of a ``with`` block; unpersist them on
    exit, whether the block returns or raises.

    ``with pinned(df) as df:`` pins one frame. ``with pinned() as pin:``
    yields a callable that persists and returns its argument, for blocks
    that pin conditionally or pin several frames. A frame the block returns
    must not read a pinned frame lazily after the exit: the read still
    works, but it recomputes the frame's plan."""
    held: list[DataFrame] = []

    def pin(frame: DataFrame) -> DataFrame:
        held.append(frame.persist())
        return frame

    try:
        yield pin if df is None else pin(df)
    finally:
        for frame in held:
            frame.unpersist()


def checkpoint_nonempty(level: DataFrame) -> DataFrame | None:
    """Checkpoint one loop level; return it, or None when it has no rows.

    The checkpoint is lazy and the ``count`` is its materializing action:
    one job both writes the level's blocks and tests emptiness, where an
    eager checkpoint plus an emptiness check would run two jobs over the
    same blocks. Every later read of the level (the next level's frontier,
    the union into the result) reads those blocks. Loops stop on None."""
    level = level.localCheckpoint(eager=False)
    return level if level.count() else None


def fixpoint(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    max_rounds: int,
    *,
    until_stable: bool = False,
    name: str,
) -> DataFrame:
    """Apply ``step`` to ``state`` up to ``max_rounds`` times; return the
    last state. Each round's output is localCheckpointed lazily, so a round
    plans over the previous round's blocks, never its lineage.

    Without ``until_stable`` exactly ``max_rounds`` rounds run, and no job
    runs here beyond what AQE submits while planning each checkpoint.

    With ``until_stable`` the loop stops at the first round whose state
    equals the previous one as a set, and returns it; a state must then be
    a set of rows (no duplicates). The starting state is checkpointed too.
    The test compares counts and runs ``exceptAll`` only when they match:
    with equal counts, an empty one-way difference proves equality. The
    count is also the checkpoint's materializing action, so a round that
    changes the row count (most of them) costs one job for both. When no
    round is stable, raises `NotConverged` naming ``name``."""
    if not until_stable:
        for _ in range(max_rounds):
            state = step(state).localCheckpoint(eager=False)
        return state
    state = state.localCheckpoint(eager=False)
    n = state.count()
    for _ in range(max_rounds):
        new = step(state).localCheckpoint(eager=False)
        n_new = new.count()
        if n_new == n and new.exceptAll(state).isEmpty():
            return new
        state, n = new, n_new
    raise NotConverged(f"{name}: no convergence in {max_rounds} rounds")
