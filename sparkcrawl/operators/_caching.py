"""Tracked operator-internal persists, with a release surface.

The self-joining pair-search operators (simhash/ngram/embedding LSH) MUST
persist a subplan: Spark does not reuse the exchange across the two
aliased sides of a self-join, so without the cache the whole
signature/shingle computation runs twice (measured 2x on the bench
queries). But a lazy operator cannot know when its caller's action has
materialized, so a naked ``persist()`` leaks cached blocks for the
driver's lifetime (r2 ADVICE: every call accumulates signatures that
nothing can release).

``tracked_persist()`` registers every such cache; ``release_caches()``
unpersists them all. Callers invoke it after the consuming action:
``bench.py`` releases between queries, ``scripts/run_corpus.py`` when
its ``main`` ends, tests in teardown; the engine's
superstep loop manages its own persists explicitly and does not go
through this registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ACTIVE: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() + register for later release_caches()."""
    df = df.persist()
    _ACTIVE.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked operator cache; returns how many."""
    n = 0
    while _ACTIVE:
        df = _ACTIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped: nothing to release
    return n
