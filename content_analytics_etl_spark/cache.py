"""Cache-lifetime discipline shared by plans and operators.

Lives at package root (not ``plans._util``) so low-level operators can
use it without importing the plans package, whose ``__init__`` pulls in
the full query registry (a circular import from ``operators/*``).
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = ["materialize_and_release", "session_materialized", "BUILD_SECONDS"]


def materialize_and_release(result: DataFrame, *intermediates: DataFrame) -> DataFrame:
    """Blocking materialize-then-unpersist: force ``result`` into its own
    (small) cache, then drop the large intermediate caches it was derived
    from. Iterative plans persist a working set that every unrolled round
    references; without this, each invocation leaks that cache for the
    session lifetime (bench/correctness sweeps run all queries in one
    session). After this call the only pinned storage is the final
    result. Spark's CacheManager keeps that entry for the session: it
    is not reclaimed when the returned DataFrame is garbage-collected,
    and the next call that builds the same plan finds it, so that
    call's ``persist()`` reuses the cached rows instead of recomputing
    them. Repeated identical calls therefore share one entry, and each
    distinct plan (another ``sf_dir``, say) keeps one until
    ``spark.catalog.clearCache()`` or the session ends.

    The intermediates are released in a ``finally`` so a failed
    materialize (executor OOM mid-sweep, cancelled job) cannot pin them
    for the session lifetime; only on failure is the half-built result
    cache dropped too, so a count that throws leaves nothing pinned."""
    out = result.persist()
    ok = False
    try:
        out.count()
        ok = True
    finally:
        for df in intermediates:
            df.unpersist()
        if not ok:
            out.unpersist()
    return out


# One materialization per (session, logical key). Registered queries that
# feed OTHER registered queries (cluster assignments, per-doc LM scores,
# the curation manifest) would otherwise re-execute their full pipeline
# once per consumer in a single sweep — at 100 TB these are incremental
# tables written once per corpus snapshot, and this cache is the local
# stand-in for that posture. Callers put the corpus content fingerprint
# in the key so regenerated data recomputes; entries die with the
# application (keyed by applicationId).
_SESSION_CACHE: dict[tuple[str, str], DataFrame] = {}
# RLock, not Lock: producer pipelines NEST (the curation manifest build
# calls dedup_keep_best, itself session-materialized), so the building
# thread re-enters while holding the lock.
_LOCK = threading.RLock()

# Wall-seconds of each ACTUAL pipeline build, keyed by the logical key
# (the part before the fingerprint).  The session cache makes every
# later invocation a cache read, so without this a regression in the
# producer pipeline itself is invisible to the bench — bench.py emits
# it as ``producer_build_seconds``.
BUILD_SECONDS: dict[str, float] = {}


def session_materialized(
    spark: SparkSession, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the session's materialization of ``build()`` for ``key``,
    building + persisting + counting it on first use.

    Keys are ``logical_name:corpus_fingerprint``.  Guarded by one lock —
    two concurrent callers can't double-build/persist the same key
    (the build runs inside the lock; first-touch builds are rare,
    once per session per key, so serializing them is the simple safe
    choice).  Materializing a NEW fingerprint of a logical key evicts
    (unpersists + deletes) superseded snapshots of the same logical key
    for this application — a session sweeping several sf_dirs would
    otherwise pin one persisted frame per corpus snapshot until exit."""
    app = spark.sparkContext.applicationId
    k = (app, key)
    logical = key.split(":", 1)[0]
    with _LOCK:
        df = _SESSION_CACHE.get(k)
        if df is None:
            for old in [
                x
                for x in _SESSION_CACHE
                if x[0] == app and x[1].split(":", 1)[0] == logical
            ]:
                _SESSION_CACHE.pop(old).unpersist()
            t0 = time.time()
            df = build().persist()
            df.count()
            BUILD_SECONDS[logical] = round(time.time() - t0, 3)
            _SESSION_CACHE[k] = df
    return df
