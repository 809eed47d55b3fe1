"""Session stage-cache contract (operators/stage_cache.py): memoization,
LRU bound, dead-session eviction, explicit clear — the ADVICE r4
leak-scenario guarantees — plus one build per in-flight key, failed
builds releasing their waiters, and the module being the engine's only
thread pool."""

from __future__ import annotations

from decisions_kinesis_spark.operators import stage_cache


def test_stage_cache_memoizes_per_key(spark):
    stage_cache.clear()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).localCheckpoint(eager=True)

    a = stage_cache.get_or_build(spark, "t", "k1", build)
    b = stage_cache.get_or_build(spark, "t", "k1", build)
    assert a is b and calls["n"] == 1
    c = stage_cache.get_or_build(spark, "t", "k2", build)
    assert c is not a and calls["n"] == 2
    stage_cache.clear()


def test_stage_cache_lru_bound(spark):
    stage_cache.clear()
    for i in range(stage_cache._MAX_ENTRIES + 5):
        stage_cache.get_or_build(spark, "bound", f"k{i}", lambda: object())
    assert len(stage_cache._CACHE) <= stage_cache._MAX_ENTRIES
    # the OLDEST keys were evicted, the newest retained
    app = spark.sparkContext.applicationId
    assert (app, "bound", "k0") not in stage_cache._CACHE
    assert (
        app,
        "bound",
        f"k{stage_cache._MAX_ENTRIES + 4}",
    ) in stage_cache._CACHE
    stage_cache.clear()


def test_stage_cache_evicts_dead_session_entries(spark):
    stage_cache.clear()
    stage_cache._CACHE[("dead-app-id", "x", "y")] = "stale"
    stage_cache.get_or_build(spark, "t", "k1", lambda: object())
    assert ("dead-app-id", "x", "y") not in stage_cache._CACHE
    stage_cache.clear()
    assert not stage_cache._CACHE


def test_build_many_returns_spec_order_and_builds_once(spark):
    """build_many (guide §2.6 concurrent stage builds): results come
    back in spec order, each missing key's builder runs exactly once
    even when the same key appears twice in one call, and hits skip
    the pool entirely."""
    import threading

    stage_cache.clear()
    calls: dict[str, int] = {"a": 0, "b": 0, "c": 0}
    lock = threading.Lock()

    def mk(name):
        def build():
            with lock:
                calls[name] += 1
            return f"built:{name}"

        return build

    out = stage_cache.build_many(
        spark,
        [
            ("bm", "a", mk("a")),
            ("bm", "b", mk("b")),
            ("bm", "a", mk("a")),  # duplicate key in one call
            ("bm", "c", mk("c")),
        ],
    )
    assert out == ["built:a", "built:b", "built:a", "built:c"]
    assert calls == {"a": 1, "b": 1, "c": 1}
    # second call: all hits, no builder runs
    out2 = stage_cache.build_many(
        spark, [("bm", n, mk(n)) for n in ("a", "b", "c")]
    )
    assert out2 == ["built:a", "built:b", "built:c"]
    assert calls == {"a": 1, "b": 1, "c": 1}
    stage_cache.clear()


def test_build_many_propagates_builder_error(spark):
    stage_cache.clear()

    def boom():
        raise ValueError("stage exploded")

    import pytest

    with pytest.raises(ValueError, match="stage exploded"):
        stage_cache.build_many(
            spark,
            [("bmerr", "ok", lambda: 1), ("bmerr", "bad", boom)],
        )
    stage_cache.clear()


def test_checkpoint_matches_sequential(spark):
    """stage_cache.checkpoint returns frames with the same rows as
    sequential localCheckpoints (only job overlap changes)."""
    a = spark.range(10).selectExpr("id", "id * 2 as two")
    b = spark.range(5).selectExpr("id", "id * 3 as three")
    ca, cb = stage_cache.checkpoint(a, b)
    assert sorted(map(tuple, ca.collect())) == sorted(
        map(tuple, a.collect())
    )
    assert sorted(map(tuple, cb.collect())) == sorted(
        map(tuple, b.collect())
    )
    assert stage_cache.checkpoint() == []


def _run_threads(targets, timeout=30):
    """Start one thread per target, join each with a timeout, and check
    that every one finished; a short switch interval makes the threads
    interleave inside get_or_build."""
    import sys
    import threading

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=t) for t in targets]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)


def test_concurrent_requests_build_a_missing_key_once(spark):
    import threading
    import time

    stage_cache.clear()
    calls, results = [], []
    start = threading.Barrier(4)

    def build():
        calls.append(1)
        time.sleep(0.2)  # keep the build in flight while the others ask
        return object()

    def ask():
        start.wait(10)
        results.append(stage_cache.get_or_build(spark, "race", "k", build))

    _run_threads([ask] * 4)
    assert len(calls) == 1
    assert len(results) == 4 and all(r is results[0] for r in results)
    assert not stage_cache._BUILDING
    stage_cache.clear()


def test_failed_build_releases_waiters_and_next_call_rebuilds(spark):
    import threading
    import time

    import pytest

    stage_cache.clear()
    started, release = threading.Event(), threading.Event()
    errors, got, waiter_calls = [], [], []

    def failing():
        started.set()
        release.wait(10)
        raise ValueError("stage exploded")

    def first():
        try:
            stage_cache.get_or_build(spark, "fail", "k", failing)
        except ValueError as e:
            errors.append(e)

    def waiter_build():
        waiter_calls.append(1)
        return "rebuilt"

    def second():
        started.wait(10)
        got.append(stage_cache.get_or_build(spark, "fail", "k", waiter_build))

    t = threading.Thread(target=_run_threads, args=([first, second],))
    t.start()
    assert started.wait(10)
    time.sleep(0.2)
    # the second requester waits on the in-flight build, it does not
    # start its own
    assert not waiter_calls and not got
    release.set()
    t.join(30)
    assert not t.is_alive()
    assert len(errors) == 1
    assert got == ["rebuilt"] and len(waiter_calls) == 1

    # with no waiter, a failed key is simply absent: the next call builds
    def boom():
        raise ValueError("stage exploded")

    with pytest.raises(ValueError):
        stage_cache.get_or_build(spark, "fail", "k2", boom)
    assert stage_cache.get_or_build(spark, "fail", "k2", lambda: 7) == 7
    stage_cache.clear()


def test_no_per_key_state_outlives_eviction(spark):
    """Past 2 x _MAX_ENTRIES keys, with LRU eviction and failed builds,
    the memo holds at most _MAX_ENTRIES entries and no other module
    container keeps anything per key."""
    stage_cache.clear()
    for i in range(2 * stage_cache._MAX_ENTRIES):

        def build(i=i):
            if i % 5 == 0:
                raise RuntimeError("failed build")
            return object()

        try:
            stage_cache.get_or_build(spark, "evict", f"k{i}", build)
        except RuntimeError:
            pass
    assert len(stage_cache._CACHE) == stage_cache._MAX_ENTRIES
    leftovers = {
        name: len(v)
        for name, v in vars(stage_cache).items()
        if not name.startswith("__")
        and name != "_CACHE"
        and isinstance(v, (dict, set, list))
        and len(v)
    }
    assert leftovers == {}
    stage_cache.clear()


def test_stage_cache_is_the_only_thread_pool():
    """Overlapping materialization lives in one module: no other engine
    file builds its own ThreadPoolExecutor."""
    import pathlib

    pkg = pathlib.Path(stage_cache.__file__).parents[1]
    users = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "ThreadPoolExecutor" in p.read_text(encoding="utf-8")
    )
    assert users == ["operators/stage_cache.py"]
