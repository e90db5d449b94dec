"""Cached-intermediate bookkeeping for operators that persist shared
subtrees (minhash shingles, relation member tables, ...).

Two release mechanisms, because a DataFrame attribute alone is fragile —
any further transformation (select/filter/join) returns a NEW object
without it, turning :func:`release_cached` into a silent no-op:

1. **Exact-object release** — operators attach their persist handles to
   the DataFrame they return; ``release_cached(result)`` works only on
   that exact returned object (documented requirement).
2. **Scoped release (preferred for long-lived sessions)** — wrap the
   operator call(s) in :func:`cached_scope`; every handle attached while
   the scope is active is unpersisted on exit, regardless of what the
   caller did with the returned DataFrame::

       with cached_scope():
           pairs = minhash_lsh_pairs(docs)
           n = pairs.filter(...).count()   # transformations are fine
       # all operator-persisted intermediates released here

Without either, blocks stay cached until LRU eviction pressure —
acceptable for one-shot jobs, wasteful for a session running many
operators back to back.

Spark caches equal plans once, so two results can share a cached
table; either release keeps it until the last holder is released.
An operator's observed counters ride its result the same way
(:func:`attach_counters`).
"""

from __future__ import annotations

import threading
import weakref
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation

_ATTR = "_gosmonaut_cached"
_COUNTERS = "_gosmonaut_counters"

_held: weakref.WeakSet = weakref.WeakSet()  # attached, not yet released

_scopes = threading.local()


def _scope_stack() -> list[list[DataFrame]]:
    stack = getattr(_scopes, "stack", None)
    if stack is None:
        stack = []
        _scopes.stack = stack
    return stack


@contextmanager
def cached_scope(blocking: bool = False):
    """Collect every persist handle attached by operators called inside
    the ``with`` block, and unpersist them all on exit (even on error).
    Scopes nest; handles go to the innermost active scope. Yields the
    live handle list for inspection."""
    handles: list[DataFrame] = []
    stack = _scope_stack()
    stack.append(handles)
    try:
        yield handles
    finally:
        stack.pop()
        for h in handles:
            try:
                _release([h], blocking)
            except Exception:
                pass


def attach_cached(df: DataFrame, handles: list[DataFrame]) -> DataFrame:
    """Record persisted intermediates on the returned DataFrame AND in the
    innermost active :func:`cached_scope` (if any)."""
    setattr(df, _ATTR, list(handles))
    _held.update(handles)
    stack = _scope_stack()
    if stack:
        stack[-1].extend(handles)
    return df


def release_cached(df: DataFrame, blocking: bool = False) -> None:
    """Unpersist every intermediate the producing operator cached for this
    result. MUST be called on the exact DataFrame object an operator
    returned — a derived DataFrame (after select/filter/join) no longer
    carries the handles; use :func:`cached_scope` when that is
    inconvenient. No-op for DataFrames without attached handles."""
    handles = getattr(df, _ATTR, None) or []
    setattr(df, _ATTR, [])
    _release(handles, blocking)


def _release(handles: list[DataFrame], blocking: bool) -> None:
    """Unpersist ``handles`` unless a still-held handle caches the same plan."""
    _held.difference_update(handles)
    for h in handles:
        if not any(h.sameSemantics(o) for o in list(_held)):
            h.unpersist(blocking)


def attach_counters(df: DataFrame, obs: Observation, *names: str) -> DataFrame:
    """Attach the Observation of the operator's counters ``names`` to its result."""
    setattr(df, _COUNTERS, (obs, names))
    return df


def read_counters(df: DataFrame) -> dict:
    """The counters observed for this exact DataFrame. Call only after an
    action over it has succeeded: ``Observation.get`` blocks until then.
    A subtree the optimizer removed as provably empty reports an empty
    row; its counters read None, not measured."""
    obs, names = getattr(df, _COUNTERS, (None, ()))
    if obs is None or obs._jo.getRow().length() == 0:
        return dict.fromkeys(names)
    return obs.get
