"""The package's one artifact cache, scoped to the Spark application.

Three kinds of value are worth building once and reusing across
queries of one application:

- expression trees that are expensive to CONSTRUCT through py4j (the
  32-language trigram classifier is ~4,000 gateway round-trips, ~5 s
  per construction, re-paid on every DataFrame build otherwise);
- per-dataset index artifacts (IVF/PQ codebooks, trained model
  parameters, LM tables, the checkpointed feature frame they share),
  keyed by the parquet fingerprint so a regenerated dataset rebuilds;
- physical-route decisions that are pure functions of a plan
  (near_dup_components' star route, keyed by the plan's semanticHash).

Keys are tuples whose first element names the namespace: ``"langid"``,
``"entry"``, ``"star_route"``, or a parquet path for dataset
artifacts. Every entry belongs to the SparkContext that was active
when it was built — JavaObject handles, checkpointed frames and plan
hashes mean nothing to another application — so the whole cache
empties itself the first time it is used under a different context
(``spark.stop()`` then a new session, or a relaunched JVM).
"""

from __future__ import annotations

from typing import Any, Callable

_CACHE: dict[tuple, Any] = {}
_owner: Any = None


def _scope() -> Any:
    """The active SparkContext (None when no context is running)."""
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def cached(key: tuple, build: Callable[[], Any]) -> Any:
    """Return ``build()``, built at most once per (Spark application,
    key). A value built under an earlier application is never
    returned."""
    global _owner
    scope = _scope()
    if scope is not _owner:
        _CACHE.clear()
        _owner = scope
    if key not in _CACHE:
        _CACHE[key] = build()
    return _CACHE[key]


def clear() -> None:
    """Drop every entry (tests; a table rewritten in place under an
    unchanged plan)."""
    _CACHE.clear()
