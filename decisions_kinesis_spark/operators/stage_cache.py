"""The engine's one place that overlaps or memoizes materialization.

Three parts, all in this module:

- **One pool.** ``_overlap`` runs independent thunks on a driver thread
  pool of width ``_WIDTH`` (guide §2.6 — overlap independent jobs): one
  job's straggler tail back-fills with the next job's tasks instead of
  serializing whole jobs.  Pool threads inherit the caller's job group
  and local properties (``inheritable_thread_target``), so their jobs
  stay attributable.  ``build_many`` runs its cache misses through it
  and ``checkpoint`` runs eager ``localCheckpoint``s through it.  Values
  are identical to running the thunks one after another; only the job
  overlap changes.
- **One memo.** ``get_or_build`` keys a builder's result by
  (applicationId, stage name, dataset key), so a composition query
  (``corpus_funnel_report``, ``dedup_cluster_stats``,
  ``ann_recall_at_k``) constructed twice in one session reuses its
  materialized stages.  Builders materialize their own result
  (``localCheckpoint(eager=True)``), so a hit is scan-only and a MISS
  runs Spark jobs at DataFrame-construction time.  Entries of other
  sessions (different applicationId) are evicted on every access: their
  checkpoint RDDs died with the session.  The memo is LRU-bounded at
  ``_MAX_ENTRIES`` pinned frames; ``clear()`` drops everything.
- **One in-flight set.** ``_BUILDING`` holds the keys whose builder is
  running.  A second requester of such a key waits on ``_COND`` and
  then reads the memo; if the builder raised, the key leaves the set
  and a waiter builds it itself.  Builders never run under ``_COND``,
  so builds of different keys proceed concurrently, and the per-key
  state is bounded by the builds in flight.

Standalone stage queries do NOT consult the memo: each direct call to
e.g. ``quality_gopher_flags`` recomputes, so bench per-query numbers
keep measuring the operator, not the memo.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

_CACHE: OrderedDict[tuple[str, str, str], object] = OrderedDict()
_MAX_ENTRIES = 24
#: in-flight jobs per pool.  A handful is plenty; more just fight for
#: executor slots.  Width 6 (r14): at 4, the 5-gate funnel and the
#: 8-tail recall composition serialized their overflow specs behind the
#: pool — measured interleaved ×4, corpus_funnel_report best
#: 3.30 → 3.03 s and spread 3.3-4.6 → 3.0-3.2 at width 6.
_WIDTH = 6

#: guards _CACHE and _BUILDING; requesters of an in-flight key wait on it
_COND = threading.Condition()
#: keys whose builder is running now
_BUILDING: set[tuple[str, str, str]] = set()


def _overlap(spark: SparkSession, thunks: Sequence[Callable[[], object]]) -> list:
    """Run independent thunks with their Spark jobs overlapped; results
    come back in thunk order, and the first thunk error (in that order)
    is raised verbatim."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)  # session form inherits tags
    if not callable(wrap):  # classic mode returns the session itself
        wrap = lambda f: f  # noqa: E731
    with ThreadPoolExecutor(max_workers=min(len(thunks), _WIDTH)) as pool:
        futures = [pool.submit(wrap(t)) for t in thunks]
        return [f.result() for f in futures]


def checkpoint(*dfs: DataFrame) -> list[DataFrame]:
    """Eagerly localCheckpoint INDEPENDENT frames with their jobs
    overlapped.  Callers must pass frames with no data dependency on
    each other."""
    if not dfs:
        return []
    return _overlap(
        dfs[0].sparkSession,
        [lambda d=d: d.localCheckpoint(eager=True) for d in dfs],
    )


def _cached(key: tuple[str, str, str]) -> tuple[bool, object]:
    """(hit, value) for key; call with _COND held."""
    for k in [k for k in _CACHE if k[0] != key[0]]:
        del _CACHE[k]
    if key in _CACHE:
        _CACHE.move_to_end(key)
        return True, _CACHE[key]
    return False, None


def get_or_build(
    spark: SparkSession, name: str, dataset_key: str, builder: Callable[[], object]
) -> object:
    """Return the memoized value for (current session, name, dataset_key),
    building (and thereby materializing) it on first use.  Concurrent
    requesters of one missing key run its builder once."""
    key = (spark.sparkContext.applicationId, name, dataset_key)
    with _COND:
        while True:
            hit, val = _cached(key)
            if hit:
                return val
            if key not in _BUILDING:
                break
            _COND.wait()
        _BUILDING.add(key)
    built = False
    try:
        val = builder()
        built = True
    finally:
        with _COND:
            _BUILDING.discard(key)
            if built:
                _CACHE[key] = val
                while len(_CACHE) > _MAX_ENTRIES:
                    _CACHE.popitem(last=False)
            _COND.notify_all()
    return val


def build_many(
    spark: SparkSession,
    specs: Sequence[tuple[str, str, Callable[[], object]]],
) -> list[object]:
    """get_or_build every (name, dataset_key, builder) spec, running the
    cache MISSES through the one pool (each builder eager-materializes
    its own frame).  Results come back in spec order."""
    app = spark.sparkContext.applicationId
    with _COND:
        missing = [s for s in specs if not _cached((app, s[0], s[1]))[0]]
    _overlap(spark, [lambda s=s: get_or_build(spark, *s) for s in missing])
    return [get_or_build(spark, n, d, b) for n, d, b in specs]


def clear() -> None:
    """Drop every memoized stage frame (checkpoint RDDs are reclaimed by
    the ContextCleaner once the refs drop).  Builds in flight still
    store their result when they finish."""
    with _COND:
        _CACHE.clear()
