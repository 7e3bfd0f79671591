"""Pin the per-(session, sf_dir) data memo: it keys on the session object
itself, so a new session never gets a stale hit even when CPython hands
it the address of a dead one, and ``session_memo_clear()`` forces a
rebuild."""

import gc

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
