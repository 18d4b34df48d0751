"""How a registry query is run and measured, for bench.py, tools/ and the
tests: ``measured`` times a build and an action and counts, from Spark's
``StatusTracker``, what they submitted under a fresh job group; ``sweep``
runs registry queries through it, releasing each query's blocks."""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass
from typing import Any, Callable, Iterable, Iterator

from graphrag_toolkit_spark.session import release_blocks

# the local properties SparkContext.setJobGroup sets
_GROUP_PROPERTIES = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass(frozen=True)
class Record:
    """One measured run: jobs, stages and tasks cover the build and the
    action; a stage skipped because its shuffle output existed is not
    counted. ``error`` is what the run raised, else ``result`` what the
    action returned."""

    name: str
    construct_s: float
    action_s: float
    jobs: int
    stages: int
    tasks: int
    result: Any = None
    error: Exception | None = None

    @property
    def seconds(self) -> float:
        return self.construct_s + self.action_s


def measured(spark, name: str, build: Callable[[], Any], action: Callable[[Any], Any]) -> Record:
    """Record ``action(build())``: an exception is returned in the record,
    not raised, and the caller's job group and description are restored."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(p) for p in _GROUP_PROPERTIES]
    group = f"{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    result = error = built = None
    start = time.perf_counter()
    try:
        df = build()
        built = time.perf_counter()
        result = action(df)
    except Exception as exc:  # noqa: BLE001 - the record carries it
        error = exc
    finally:
        end = time.perf_counter()
        for prop, value in zip(_GROUP_PROPERTIES, saved):
            sc.setLocalProperty(prop, value)
    built = end if built is None else built

    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    ran = [
        s for s in map(tracker.getStageInfo, stage_ids)
        if s and s.numCompletedTasks + s.numFailedTasks + s.numActiveTasks
    ]
    return Record(name, built - start, end - built, len(jobs), len(ran),
                  sum(s.numTasks for s in ran), result, error)


def sweep(spark, sf_dir: str, action: Callable[[Any], Any],
          names: Iterable[str] | None = None) -> Iterator[Record]:
    """``measured`` over registry queries at ``sf_dir``, in registry order or
    that of ``names``. Each query's blocks are released before its record is
    yielded, so ``action`` returns plain data, not a frame that reads them.
    An error, an unknown name too, becomes the record; the sweep goes on."""
    from graphrag_toolkit_spark.workload import all_queries

    queries = all_queries()
    for name in queries if names is None else names:
        rec = measured(spark, name, lambda: queries[name](spark, sf_dir), action)
        release_blocks(spark)
        yield rec
