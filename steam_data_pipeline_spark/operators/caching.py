"""Registered spine caches — bounded .cache() sites with an explicit release.

A handful of operators cache a *bounded* intermediate (the binned
customer spine in the histogram-rank primitives, the contingency cells
in the association stats, the ALS interaction matrix) because several
downstream branches re-derive it otherwise — each adoption was
A/B-measured at 1x and 10x before landing (see CHANGELOG, round 10).

The caches are created inside lazy plan builders, so the builder cannot
unpersist them itself: the cached blocks must outlive the caller's
``collect()``. That made every invocation in a long-lived session (the
298-query bench, the pytest session) leak blocks until LRU eviction
(round-10 ADVICE). This module closes the loop:

* ``spine_cache(df)`` — ``df.cache()`` plus registration in a
  module-level live list.
* ``release_spines()`` — unpersist + deregister everything, safe to
  call any time after the consumer has forced its result (a released
  spine simply recomputes if re-evaluated — lazy semantics unchanged).

``plans.registry.run_query`` calls ``release_spines()`` and
``spark.catalog.clearCache()`` after every registry query; the first
also empties this registry so the strong references don't pin the
JVM-side plans. Library users embedding these operators in a
long-lived session should call ``release_spines()`` at their own query
boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def spine_cache(df: DataFrame) -> DataFrame:
    """Cache ``df`` and register it for :func:`release_spines`."""
    out = df.cache()
    _LIVE.append(out)
    return out


def release_spines() -> int:
    """Unpersist every registered spine; returns how many were live."""
    n = len(_LIVE)
    while _LIVE:
        try:
            _LIVE.pop().unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
    return n
