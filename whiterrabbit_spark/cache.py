"""The lifetime of every pinned intermediate: ``pin`` is the package's
only persist / localCheckpoint, ``cache_scope`` its only release.

Operators return lazy plans that may still read their pins, so only the
caller that consumes a result (a CLI ``main``, a benchmark loop, a test)
opens a scope, around compute plus write; an operator that collects its
own result may open a nested one. With no scope open a pin is never
released, as a bare persist.
"""

from __future__ import annotations

import contextlib
import contextvars
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

_SCOPE: contextvars.ContextVar[_Scope | None] = contextvars.ContextVar(
    "whiterrabbit_cache_scope", default=None
)
_UNSCOPED_MEMO: dict = {}


class _Scope:
    def __init__(self, parent: _Scope | None):
        # appended to from pool threads too; list.append is atomic
        self.releases: list = []
        # nested scopes share the outermost scope's probe results
        self.memo = parent.memo if parent is not None else {}


def pin(
    df: DataFrame, *, checkpoint: bool = False, eager: bool | None = None
) -> DataFrame:
    """``df.persist()``, materialized now only if ``eager``; or with
    ``checkpoint``, ``df.localCheckpoint()``, eager unless ``eager=False``.
    Released when the innermost open ``cache_scope`` exits."""
    scope = _SCOPE.get()
    if checkpoint:
        df = df.localCheckpoint(eager=eager is not False)
        if scope is not None:
            # the checkpointed RDD sits under the returned frame's LogicalRDD
            rdd = df._jdf.queryExecution().logical().rdd()
            scope.releases.append(lambda: rdd.unpersist(False))
        return df
    df = df.persist()
    if scope is not None:
        scope.releases.append(df.unpersist)
    if eager:
        df.count()
    return df


@contextlib.contextmanager
def cache_scope():
    """Unpersist on exit every frame and local checkpoint pinned under
    this scope. A plan built inside must not be read after it closes: a
    released checkpoint cannot be recomputed."""
    scope = _Scope(_SCOPE.get())
    token = _SCOPE.set(scope)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for release in reversed(scope.releases):
            release()


def memo(key, compute):
    """``compute()`` once per ``key`` for the life of the outermost open
    scope, or of the process when none is open: driver-side probe
    results keyed by their input plan's ``semanticHash``. The unscoped
    memo goes stale if a source is rewritten in the same session; a
    caller that rewrites sources should open a ``cache_scope``."""
    scope = _SCOPE.get()
    store = _UNSCOPED_MEMO if scope is None else scope.memo
    # unlocked: threads racing on one key both probe and store equal values
    if key not in store:
        store[key] = compute()
    return store[key]


class ThreadPool(ThreadPoolExecutor):
    """A thread pool whose tasks pin into the submitting thread's scope."""

    def submit(self, fn, /, *args, **kwargs):
        return super().submit(contextvars.copy_context().run, fn, *args, **kwargs)
