"""Scoped lifetime for the caches query helpers pin.

Several operators cache a mid-plan frame that is referenced more than
once — by a driver-side collect in the helper (a Bloom filter build, a
token total) and by the returned plan, or several times by the plan
alone — the shingle table in the LSH verify, BM25's per-doc norms, the
HLL register frame. `.cache()` alone leaks:
Spark's CacheManager keeps the entry until someone unpersists it, so a
long-lived multi-query session accumulates pinned storage (r05 VERDICT
finding #3).

The fix is an explicit scope: library code registers every cache it
creates via ``scoped_cache``, and every registered query builds its
plan inside a scope (queries.query). A build whose scope captured at
least one cache is finalized — its result materialized, then exactly
those caches released (queries._finalize); a build that captured none
returns its lazy plan. A scope also records the scratch directories
`scratch.materialize_distributed` writes while it is open
(``scoped_dir``); a finalized query deletes them after its result
write, since the result no longer scans them. Contract: a registered
query is a ONE-SHOT report that leaves no pinned block behind (asserted by
tests/test_plans.py against getPersistentRDDs). The scope sees only
caches made through ``scoped_cache``, so the packages under it never
call a bare ``.cache()``/``.persist()`` (tests/test_local_frames.py
scans for one). Library functions called directly still cache lazily
for plan-reuse speed; callers embedding them in a long-lived session
call ``release_scoped_caches()`` themselves after their terminal
action.

Scoping (r06 ADVICE): registration is token-scoped, not one global
list. ``cache_scope()`` is a context manager that captures every cache
registered on the SAME THREAD while it is open; exiting the scope (or
calling ``scope.release()``) unpersists exactly those caches and no
others, so one finalized query can never steal a cache another caller
built but has not yet executed. ``scoped_cache`` outside any open
scope falls back to a lock-guarded process-global list that
``release_scoped_caches()`` drains — the documented session-end hook
for library callers.
"""

from __future__ import annotations

import threading
from types import TracebackType

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_GLOBAL: list[DataFrame] = []
_TLS = threading.local()


class CacheScope:
    """A releasable set of caches registered on one thread.

    Used as a context manager (``with cache_scope() as s:``) or held
    and released explicitly via :meth:`release`. Scopes nest: an inner
    scope captures registrations until it closes, after which the
    enclosing scope resumes capturing.
    """

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []
        self._released = False
        #: scratch directories written while this scope was innermost
        #: (``scoped_dir``); not counted by ``len``
        self.dirs: list[str] = []

    def _add(self, df: DataFrame) -> None:
        self._dfs.append(df)

    def __len__(self) -> int:
        """How many captured caches are not yet released."""
        return len(self._dfs)

    def release(self) -> int:
        """Unpersist every cache this scope captured; returns how many.

        Idempotent — a second release is a no-op."""
        if self._released:
            return 0
        self._released = True
        n = 0
        while self._dfs:
            df = self._dfs.pop()
            try:
                df.unpersist()
                n += 1
            except Exception:  # session already stopped — nothing to free
                pass
        return n

    def __enter__(self) -> CacheScope:
        stack = getattr(_TLS, "stack", None)
        if stack is None:
            stack = _TLS.stack = []
        stack.append(self)
        return self

    def __exit__(
        self,
        exc_type: type[BaseException] | None,
        exc: BaseException | None,
        tb: TracebackType | None,
    ) -> None:
        _TLS.stack.pop()
        # On exception, free the captured caches immediately; on clean
        # exit the holder may still call release() later (queries'
        # _finalize releases AFTER the terminal action, which happens
        # inside the with-body).
        if exc_type is not None:
            self.release()


def cache_scope() -> CacheScope:
    """Open a thread-local capture scope for ``scoped_cache`` calls."""
    return CacheScope()


def scoped_cache(df: DataFrame) -> DataFrame:
    """`.cache()` plus registration for scope-end release.

    Registers with the innermost open :class:`CacheScope` on this
    thread if any, else the process-global list drained by
    :func:`release_scoped_caches`.
    """
    df = df.cache()
    stack = getattr(_TLS, "stack", None)
    if stack:
        stack[-1]._add(df)
    else:
        with _LOCK:
            _GLOBAL.append(df)
    return df


def scoped_dir(path: str) -> None:
    """Record a scratch directory in the innermost open
    :class:`CacheScope` on this thread, if any. The scope's holder
    decides whether the directory is dead: a finalized query deletes
    those its build wrote once its result is materialized
    (queries._finalize)."""
    stack = getattr(_TLS, "stack", None)
    if stack:
        stack[-1].dirs.append(path)


def release_scoped_caches() -> int:
    """Unpersist every globally-registered cache; returns how many.

    Only drains the out-of-scope (global) list — caches captured by an
    open :class:`CacheScope` belong to that scope's holder.
    """
    n = 0
    while True:
        with _LOCK:
            if not _GLOBAL:
                return n
            df = _GLOBAL.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
