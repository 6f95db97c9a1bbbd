"""The cached() memo under concurrent release (models/base.py)."""

from __future__ import annotations

from dbt_jaffleshop_spark.models import base


def test_release_keeps_a_frame_stored_mid_release(monkeypatch):
    """A frame stored while release_cached is unpersisting must stay in
    the memo: every object ever stored is either unpersisted or still
    memoized. Here unpersisting ``a`` re-stores key ``b`` (a concurrent
    cached() call), after the release already decided to drop ``b``."""
    memo: dict = {}
    monkeypatch.setattr(base, "_CACHE_MEMO", memo)
    session = object()
    stored, unpersisted = [], []

    class Frame:
        def __init__(self, on_unpersist=None):
            self.on_unpersist = on_unpersist
            stored.append(self)

        def unpersist(self, blocking=True):
            unpersisted.append(self)
            if self.on_unpersist is not None:
                self.on_unpersist()

    def store_b():
        assert base._CACHE_LOCK.acquire(timeout=5), "release held the lock"
        try:
            memo[(id(session), "b", None)] = Frame()
        finally:
            base._CACHE_LOCK.release()

    memo[(id(session), "a", None)] = Frame(store_b)
    memo[(id(session), "b", None)] = Frame()
    base.release_cached(session)
    leaked = [
        f for f in stored if f not in unpersisted and f not in memo.values()
    ]
    assert not leaked
    assert len(stored) == 3 and len(unpersisted) == 2
