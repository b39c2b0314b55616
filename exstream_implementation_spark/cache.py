"""Tracked persists — bounded cache footprint for long-lived sessions.

Several operators persist a shared subtree (LSH bucket assignments, capped
shingle edges, the melted-events relation) so sibling consumers inside ONE
query don't recompute it.  Those caches are useful only while their query's
result is being materialized; in a long session (the driver's 50-query
sweep, a notebook) leaving them pinned accumulates executor storage until
eviction pressure hurts genuinely hot data.

``tracked_persist`` registers every such cache; the query registry releases
all tracked caches when the NEXT top-level catalog query starts (never
mid-query — nested catalog calls are depth-guarded), so at most one query's
working set is ever pinned.  Releasing an unconsumed cache is safe: Spark
recomputes the subtree on demand; only the sharing is lost.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_lock = threading.Lock()
_tracked: list[DataFrame] = []
_pinned: list[DataFrame] = []
_depth = 0


def tracked_persist(df: DataFrame, scope: str = "query") -> DataFrame:
    """persist() + register for release.

    ``scope="query"`` (default): released when the next top-level catalog
    query starts.  ``scope="session"``: survives across queries — for a hot
    relation many catalog queries share via CacheManager plan-matching (the
    melted-events subtree) — but still dropped by ``release_tracked()``, so
    the post-suite inventory stays empty.  Session-scope entries are bounded:
    one per distinct source plan, deduplicated JVM-side by plan matching.
    """
    df = df.persist()
    with _lock:
        (_pinned if scope == "session" else _tracked).append(df)
    return df


def session_persist(df: DataFrame) -> DataFrame:
    """``tracked_persist(df, scope="session")`` — for subtrees shared across
    catalog queries via CacheManager plan-matching."""
    return tracked_persist(df, scope="session")


def release_tracked() -> int:
    """Unpersist every tracked cache (both scopes); returns the count."""
    with _lock:
        dfs = _tracked + _pinned
        _tracked.clear()
        _pinned.clear()
    n = 0
    for df in dfs:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n


def enter_query() -> None:
    """Top-level catalog-query entry: drop the previous query's
    query-scoped caches (session-scoped ones stay shared)."""
    global _depth
    with _lock:
        top = _depth == 0
        _depth += 1
        dfs = _tracked[:] if top else []
        if top:
            _tracked.clear()
    for df in dfs:
        try:
            df.unpersist()
        except Exception:
            pass


def exit_query() -> None:
    global _depth
    with _lock:
        _depth -= 1


def persisted_rdd_count(spark) -> int:
    """Number of RDDs currently pinned in the context's storage (JVM-side
    inventory — covers caches made outside this module too).

    Locally-checkpointed RDDs are excluded: ``localCheckpoint()`` blocks
    (e.g. the per-round label fence in ``operators/components.py``) are
    lifecycle-managed by Spark's ContextCleaner — released as soon as the
    referencing frame is garbage-collected — so they are a bounded,
    self-cleaning footprint, not an indefinitely-pinned leak this inventory
    is meant to catch.
    Counting them made the post-suite hygiene gate flake on GC timing.
    They are not invisible, though: ``persisted_rdd_census`` reports both
    populations so a hygiene gate can still alert if the locally-
    checkpointed count grows monotonically across queries (a leak of
    retained references that ContextCleaner can never collect)."""
    return persisted_rdd_census(spark)[0]


def persisted_rdd_census(spark) -> tuple[int, int]:
    """(pinned, locally_checkpointed) storage inventory — one JVM pass."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    pinned = local_ckpt = 0
    for jrdd in jmap.values():
        if jrdd.rdd().isLocallyCheckpointed():
            local_ckpt += 1
        else:
            pinned += 1
    return pinned, local_ckpt
