"""Driver-loop primitive for the level-by-level frontier operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_nonempty(level: DataFrame) -> DataFrame | None:
    """Checkpoint one loop level; return it, or None when it has no rows.

    The checkpoint is lazy and the ``count`` is its materializing action:
    one job both writes the level's blocks and tests emptiness, where an
    eager checkpoint plus an emptiness check would run two jobs over the
    same blocks. Every later read of the level (the next level's frontier,
    the union into the result) reads those blocks. Loops stop on None."""
    level = level.localCheckpoint(eager=False)
    return level if level.count() else None
