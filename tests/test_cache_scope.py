"""Plan-scoped cache lifetime (``mapreduce_paradigm_spark.cache_scope``):
a handle belongs to the scope open in its own context, is released with
the plan its outermost scoped call returns, and is released at once when
the call that made it raises."""

from __future__ import annotations

import gc
import sys
import threading

import pytest

from mapreduce_paradigm_spark.cache_scope import _tracked_persist, plan_scoped


def _cached(df) -> bool:
    return df.storageLevel.useMemory


def test_persist_outside_a_scope_raises(spark):
    df = spark.range(3)
    with pytest.raises(RuntimeError):
        _tracked_persist(df)
    assert not _cached(df)


def test_threads_release_only_their_own_handles(spark):
    n = 8  # more threads than cores, switching often
    all_open = threading.Barrier(n, timeout=60)
    persisted, results = {}, {}

    @plan_scoped
    def build(tag):
        persisted[tag] = _tracked_persist(spark.range(10).selectExpr(f"id + {tag} AS id"))
        all_open.wait()  # every scope is open at the same time
        return persisted[tag].select("id")

    threads = [
        threading.Thread(target=lambda t=t: results.__setitem__(t, build(t)))
        for t in range(n)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and len(results) == n
    for tag in range(n):
        assert all(_cached(persisted[t]) for t in range(tag, n))
        del results[tag]
        gc.collect()
        assert not _cached(persisted[tag])


def test_failed_inner_call_releases_its_handles(spark):
    made = {}

    @plan_scoped
    def inner():
        made["inner"] = _tracked_persist(spark.range(5))
        raise ValueError("inner failed")

    @plan_scoped
    def outer():
        try:
            inner()
        except ValueError:
            pass
        made["outer"] = _tracked_persist(spark.range(3))
        return made["outer"].select("id")

    out = outer()
    assert not _cached(made["inner"])
    assert _cached(made["outer"])
    del out
    gc.collect()
    assert not _cached(made["outer"])
