"""Plan-scoped lifetime for persisted intermediates and broadcasts.

``df.persist()`` entries live in the SQL CacheManager until explicitly
unpersisted (the ContextCleaner does NOT reap them on GC), and a
``sc.broadcast`` keeps its executor blocks until unpersisted, so a
long-lived session issuing repeated operator calls would accumulate both
without bound. Discipline: operators persist/broadcast through
``_tracked_persist``/``_tracked_broadcast``, which register the handle with
the scope open in the current context. The scope is a ``ContextVar``, so
concurrent driver threads never see each other's handles.

- ``@plan_scoped``: the outermost decorated call opens a scope; nested
  decorated calls join it. On return, one ``weakref.finalize`` on the
  result releases every handle, so the caches live exactly as long as the
  plan they back, however the caller derived it. A call that raises, at
  any depth, releases the handles registered since it began.
- ``with plan_scope() as handles:`` for callers with no result to attach
  the handles to (counts, collected values): a fresh scope, even inside an
  open one, whose handles are released on exit.

Release is unpersist, never destroy: a derived plan that outlives the
scoped result may still reference a broadcast, and Spark transparently
re-ships an unpersisted broadcast on next use — so release frees executor
blocks without making any plan unrunnable. The cost of an early release is
only recompute.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import weakref
from contextvars import ContextVar

_SCOPE: ContextVar[list | None] = ContextVar("plan_cache_scope", default=None)

_LOCK = threading.Lock()
_FINALIZERS: list[weakref.finalize] = []  # returned scopes, for release_caches


def _release(handles) -> None:
    for h in handles:
        try:
            h.unpersist(False)
        except Exception:
            pass  # session stopped / gateway down — nothing left to free


def _open_scope() -> list:
    scope = _SCOPE.get()
    if scope is None:
        raise RuntimeError(
            "persist/broadcast outside a plan scope: decorate the entry "
            "point with @plan_scoped or run it inside `with plan_scope():`"
        )
    return scope


def _tracked_persist(df):
    """``df.persist()`` owned by the open scope."""
    scope = _open_scope()
    df = df.persist()
    scope.append(df)
    return df


def _tracked_broadcast(bc):
    """A ``sc.broadcast`` handle owned by the open scope."""
    _open_scope().append(bc)
    return bc


def plan_scoped(fn):
    """Tie every handle registered under ``fn`` to the result it returns
    (outermost call) or to the enclosing scope (nested call)."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        scope = _SCOPE.get()
        if scope is not None:
            mark = len(scope)
            try:
                return fn(*args, **kwargs)
            except BaseException:
                _release(scope[mark:])
                del scope[mark:]
                raise
        scope = []
        token = _SCOPE.set(scope)
        try:
            result = fn(*args, **kwargs)
            if scope:
                # the result's own JVM handle, not the result: the finalizer
                # must not keep alive the object it watches
                handles = [h._jdf if h is result else h for h in scope]
                fin = weakref.finalize(result, _release, handles)
                # at interpreter exit the JVM is tearing down anyway
                fin.atexit = False
                with _LOCK:
                    _FINALIZERS[:] = [f for f in _FINALIZERS if f.alive]
                    _FINALIZERS.append(fin)
            return result
        except BaseException:
            _release(scope)
            raise
        finally:
            _SCOPE.reset(token)

    return wrapper


@contextlib.contextmanager
def plan_scope():
    """A fresh scope whose handles (the yielded list) are released on exit."""
    scope: list = []
    token = _SCOPE.set(scope)
    try:
        yield scope
    finally:
        _SCOPE.reset(token)
        _release(scope)


def release_caches() -> None:
    """Eagerly release the caches of every plan returned by a scoped call
    (benchmark/test hygiene). Normally unnecessary: they are released when
    the plan is garbage-collected. Scopes still open are released by their
    own exit."""
    with _LOCK:
        fins, _FINALIZERS[:] = list(_FINALIZERS), []
    for f in fins:
        f()  # idempotent
