"""Pin the per-(session, sf_dir) data memo: it keys on the session object
itself, so a new session never gets a stale hit even when CPython hands
it the address of a dead one, and ``session_memo_clear()`` forces a
rebuild.  Both memos (this one and ``exprmemo.memoized``) hand concurrent
first callers the same object."""

import gc
import itertools
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from mistocksync_spark.plans.feeds import session_memo, session_memo_clear


def _counting_builder():
    builds = []

    @session_memo
    def build(spark, sf_dir, tag="x"):
        builds.append((sf_dir, tag))
        return object()

    return build, builds


def test_session_memo_never_hits_for_a_new_session():
    build, builds = _counting_builder()
    try:
        for _ in range(100):
            session = object()
            build(session, "/sf")
            del session
            gc.collect()
        assert len(builds) == 100
    finally:
        session_memo_clear()


def test_session_memo_reuses_per_key_and_clear_rebuilds():
    build, builds = _counting_builder()
    session = object()
    try:
        first = build(session, "/sf")
        assert build(session, "/sf") is first
        assert len(builds) == 1
        assert build(session, "/other") is not first
        assert build(session, "/sf", tag="y") is not first
        assert len(builds) == 3
        session_memo_clear()
        assert build(session, "/sf") is not first
        assert len(builds) == 4
    finally:
        session_memo_clear()


def _racing_builder():
    """A builder whose first two calls wait for each other (so both callers
    miss the memo together) and whose second call returns 0.2 s later."""
    barrier = threading.Barrier(2)
    calls = itertools.count()

    def build(*_args):
        late = next(calls)
        barrier.wait(timeout=30)
        if late:
            time.sleep(0.2)
        return object()

    return build


def _call_twice_concurrently(fn, *args):
    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(fn, *args) for _ in range(2)]
        return [f.result() for f in futures]


def test_session_memo_concurrent_misses_converge():
    build = session_memo(_racing_builder())
    try:
        first, second = _call_twice_concurrently(build, object(), "/sf")
        assert first is second
    finally:
        session_memo_clear()


def test_exprmemo_concurrent_misses_converge(spark):
    from mistocksync_spark.functions.exprmemo import memoized

    build = memoized(_racing_builder())
    first, second = _call_twice_concurrently(build, 7)
    assert first is second
