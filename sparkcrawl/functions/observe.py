"""Counters observed on actions that already run (A3).

An ``Observation`` attached to a DataFrame collects its aggregates while
the first action that reads it runs, so a counter costs no Spark job of
its own. Two rules keep the metrics arriving:

  - attach it at the top of a branch an action writes (the written
    DataFrame, or a union branch of it) and, on a persisted DataFrame,
    AFTER ``persist()``: adaptive execution drops an empty input of a
    join, aggregate or union together with everything below it, and an
    observation inside the dropped part never reports;
  - read it with :func:`observed`, which never blocks: metrics that
    were pruned away (or never arrive) come back as ``None`` and the
    caller counts with an action instead (:func:`observed_count`).

A node in a shuffle-map stage can double-count when Spark re-runs the
stage after a fetch failure; the engine's observations sit in result
stages or in the cache build of a persisted DataFrame.
"""

from __future__ import annotations

import logging
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

# an action's listener event lands milliseconds after it returns; metrics
# missing this long after were pruned from the executed plan
_REPORT_TIMEOUT_S = 10.0


def observe(df: DataFrame, *metrics: Column) -> tuple[DataFrame, Observation]:
    """``df`` with a fresh named observation of ``metrics`` (default: the
    row count as ``n``), and that observation."""
    obs = Observation(f"sparkcrawl-{uuid.uuid4().hex}")
    return df.observe(obs, *(metrics or (F.count(F.lit(1)).alias("n"),))), obs


def observed(obs: Observation) -> dict | None:
    """The metrics of ``obs`` once its action's listener event has landed,
    or ``None`` when they never do — the observed node was pruned from
    the executed plan."""
    jo = obs._jo  # the JVM Observation: its future can be polled
    fut = jo.future()
    deadline = time.monotonic() + _REPORT_TIMEOUT_S
    while not fut.isCompleted():
        if time.monotonic() > deadline:
            return None
        time.sleep(0.001)
    if jo.getRow().length() == 0:  # the action ran without the node
        return None
    return obs.get


def observed_count(obs: Observation, df: DataFrame) -> int:
    """The row count observed by ``obs``; counts ``df`` with an action
    only when the observation did not report."""
    m = observed(obs)
    if m is not None:
        return m["n"]
    _log.warning("observation %s did not report; counting with an action", obs._name)
    return df.count()
