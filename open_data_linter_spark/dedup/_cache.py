"""Scoped persist() with one-generation retention.

``functions/pii.py`` persists an intermediate (a partition-spread source)
that the returned LAZY plan consumes, so the builder can't unpersist
before returning and the caller never holds a handle. Spark's
CacheManager keeps strong references, so bare persist() calls would
accumulate forever in a long-lived session (round-3 code review finding).

``persist_scoped(scope, df)`` keeps exactly ONE generation per call-site
scope: persisting a new DataFrame under a scope first unpersists the
previous one. Unpersisting a cache another in-flight query still reads is
SAFE in Spark — the plan silently recomputes — so concurrent calls of the
same builder degrade to recompute rather than break; a session's storage
footprint stays bounded by one generation per site.
"""

from __future__ import annotations

from threading import Lock

from pyspark.sql import DataFrame

_LIVE: dict[str, DataFrame] = {}
_LOCK = Lock()


def persist_scoped(scope: str, df: DataFrame) -> DataFrame:
    """persist() ``df``, evicting the previous generation of ``scope``."""
    with _LOCK:
        old = _LIVE.get(scope)
        if old is not None:
            try:
                old.unpersist(blocking=False)
            except Exception:
                pass  # session may be gone; eviction is best-effort
        out = df.persist()
        _LIVE[scope] = out
    return out


def spread_and_pin(scope: str, df: DataFrame) -> DataFrame:
    """Repartition a narrower-than-parallelism input up to the session
    default parallelism, then ``persist_scoped`` it.

    The persist pins the exchange boundary BELOW later projections:
    Catalyst collapses a column-independent projection under a round-robin
    exchange, which would run the expensive expression on the narrow
    pre-shuffle side (the single-partition trap: one core runs the
    whole per-row pass). Persisting an already-wide input is intentional
    — every caller reuses the frame from multiple consumers."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return persist_scoped(scope, df)


def clear_scoped(blocking: bool = False) -> int:
    """Unpersist and forget EVERY retained generation (all scopes).

    The one-generation retention above still keeps the FINAL DataFrame of
    each call-site scope (and a reference to its SparkSession) alive for
    process lifetime; long-lived hosts call this at session teardown /
    between tenants to release them. Returns the number of scopes cleared.
    In-flight queries over a cleared cache silently recompute (Spark
    semantics), so calling this concurrently is safe, never corrupting.
    """
    with _LOCK:
        n = len(_LIVE)
        for df in _LIVE.values():
            try:
                df.unpersist(blocking=blocking)
            except Exception:
                pass  # session already stopped; forgetting is the point
        _LIVE.clear()
    return n
