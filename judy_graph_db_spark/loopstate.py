"""Loop state: the checkpoints and caches an operator makes for itself,
and the scope that frees them.

Iterative operators truncate lineage every round with ``localCheckpoint``
and keep loop-invariant relations in ``cache``. Once the operator returns,
nothing but its result can read that state, and left to the driver's GC
it holds O(rounds) × |state| of executor storage. This module owns the
lifecycle, so no operator frees anything by hand:

- :func:`checkpoint` and :func:`cache` do what ``localCheckpoint`` and
  ``cache`` do and register the relation with the innermost open scope;
- :func:`free` releases one relation registered with that scope now —
  the superseded state of a loop round;
- :func:`scoped` opens a scope around each call of an operator. On
  return it frees every registered relation that does not back a
  returned DataFrame, judged from the result plans' leaves. Relations
  that do back a result pass to the enclosing scope, or to the caller at
  top level, so nested operator calls compose. On an exception it frees
  everything it registered and re-raises;
- :func:`fixpoint` is the checkpointed convergence loop;
- :class:`Deferred` is a result whose plan is built on first use; it
  keeps the relations its builder reads alive until then.

Checkpoints are freed RDD-only. A ``localCheckpoint`` has no CacheManager
entry: ``DataFrame.unpersist`` on it frees nothing, and since the
CacheManager uncaches by canonicalized-plan equality it could drop a
caller's cache of an equal plan instead. The checkpoint's blocks belong
to the RDD behind its ``LogicalRDD`` leaf, which is unpersisted directly.
Free a loop state only once its successor is materialized: a freed
checkpoint cannot be recomputed, because ``localCheckpoint`` truncated
its lineage.

A caller's cache is never touched. :func:`cache` registers only a cache
it created; when the plan is already cached (the caller cached an equal
plan), it returns the DataFrame unregistered, so no free can drop the
caller's entry. A cache it made is freed blocking, so that when the
operator returns the blocks are gone from every executor, not merely
scheduled for removal.
"""

from __future__ import annotations

import functools
import threading
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame

_local = threading.local()


def _scopes() -> list:
    """Open scopes of this thread, innermost last; each is a list of
    ``(DataFrame, is_cache)`` entries."""
    if not hasattr(_local, "scopes"):
        _local.scopes = []
    return _local.scopes


def _register(df: DataFrame, is_cache: bool) -> DataFrame:
    scopes = _scopes()
    if scopes:
        scopes[-1].append((df, is_cache))
    return df


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``, owned by the innermost open scope."""
    return _register(df.localCheckpoint(eager=eager), False)


def cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, owned by the innermost open scope — unless the plan
    is already cached, in which case the cache is the caller's and ``df``
    is returned unregistered."""
    if _cached_builder(df) is not None:
        return df
    return _register(df.cache(), True)


def _cached_builder(df: DataFrame):
    """The CacheManager's ``CachedRDDBuilder`` for ``df``'s plan, or None."""
    data = (df.sparkSession._jsparkSession.sharedState().cacheManager()
            .lookupCachedData(df._jdf))
    return data.get().cachedRepresentation().cacheBuilder() if data.isDefined() else None


def _release(df: DataFrame, is_cache: bool) -> None:
    if is_cache:
        df.unpersist(True)
    else:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def free(df: DataFrame) -> None:
    """Release ``df`` now if the innermost open scope registered it; do
    nothing otherwise (a caller's relation, or an outer scope's)."""
    scopes = _scopes()
    owned = scopes[-1] if scopes else []
    for i, (d, is_cache) in enumerate(owned):
        if d is df:
            del owned[i]
            _release(d, is_cache)
            return


def fixpoint(state: DataFrame, step: Callable[[DataFrame], DataFrame],
             measure: Callable[[DataFrame], object], max_iter: int) -> DataFrame:
    """Iterate ``state = checkpoint(step(state))`` until ``measure`` stops
    changing or ``max_iter`` rounds ran; returns the last state.

    ``measure`` is the one job that materializes each round's lazy
    checkpoint (a count or an aggregate fingerprint), so a round costs one
    job; the initial state is measured first. The superseded state is
    freed right after its successor's measure ran.
    """
    m = measure(state)
    for _ in range(max_iter):
        nxt = checkpoint(step(state))
        prev, m = m, measure(nxt)
        free(state)
        state = nxt
        if m == prev:
            break
    return state


def scoped(fn: Callable) -> Callable:
    """Run each call of ``fn`` in its own scope (see the module docstring)."""
    @functools.wraps(fn)
    def call(*args, **kwargs):
        return _run(lambda: fn(*args, **kwargs), [])
    return call


def _run(thunk: Callable, owned: list):
    scopes = _scopes()
    scopes.append(owned)
    try:
        out = thunk()
    except BaseException:
        scopes.pop()
        for df, is_cache in owned:
            _release(df, is_cache)
        raise
    scopes.pop()
    _settle(owned, out)
    return out


def _settle(owned: list, out) -> None:
    """Hand every entry that backs a result to its heir (the enclosing
    scope, or a deferred result's own list) and free the rest."""
    parent = _scopes()[-1] if _scopes() else None
    results = out if isinstance(out, (tuple, list)) else [out]
    for res in results:
        if not owned or not isinstance(res, DataFrame):
            continue
        if isinstance(res, Deferred) and res.__dict__["_lazy_df"] is None:
            heir, plans = res.__dict__["_lazy_owned"], res.__dict__["_lazy_keep"]
        else:
            heir, plans = parent, [res]
        ids: set = set()
        for p in plans:
            _backing_rdds(p, ids)
        rest = []
        for entry in owned:
            if _rdd_id(*entry) in ids:
                if heir is not None:
                    heir.append(entry)
            else:
                rest.append(entry)
        owned = rest
    for df, is_cache in owned:
        _release(df, is_cache)


def _rdd_id(df: DataFrame, is_cache: bool):
    """The RDD that holds a registered relation's blocks: the checkpoint's
    ``LogicalRDD``, or the cache's column buffers."""
    if not is_cache:
        return df._jdf.queryExecution().analyzed().rdd().id()
    builder = _cached_builder(df)
    return builder.cachedColumnBuffers().id() if builder is not None else None


def _backing_rdds(df: DataFrame, ids: set) -> None:
    """Add the RDDs ``df`` reads to ``ids``: its ``LogicalRDD`` leaves and
    ``InMemoryRelation`` buffers, plus the lineage of any checkpoint leaf
    not yet materialized (computing it will read that lineage)."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    todo = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRDD":
            rdd = leaf.rdd()
            ids.add(rdd.id())
            if not rdd.isCheckpointed():
                todo.append(rdd)
        elif kind == "InMemoryRelation":
            ids.add(leaf.cacheBuilder().cachedColumnBuffers().id())
    while todo:
        deps = todo.pop().dependencies()
        for j in range(deps.size()):
            rdd = deps.apply(j).rdd()
            if rdd.id() not in ids:
                ids.add(rdd.id())
                todo.append(rdd)


class Deferred(_ClassicDataFrame):
    """A DataFrame whose plan ``thunk()`` builds on first use. The scope
    that returns it hands it the registered relations backing ``keep``
    (what ``thunk`` reads) instead of passing them on; ``thunk`` later runs
    in a scope that owns them, so they are freed once its result is built
    unless they back it.

    The classic PySpark DataFrame keeps its state in ``_jdf``/
    ``_session``/``_sc`` instance attributes set by ``__init__``; this
    subclass skips that ``__init__`` and serves the same names as
    properties, materializing on ``_jdf`` access — every public DataFrame
    method reads ``self._jdf``, so any operation runs (and then
    permanently reuses) the thunk's result."""

    def __new__(cls, session, thunk, keep):
        # the classic DataFrame's __new__ explicitly invokes
        # __init__(jdf, sql_ctx) — bypass it, our state is (session, thunk)
        return object.__new__(cls)

    def __init__(self, session, thunk, keep):
        # deliberately NOT calling DataFrame.__init__ — _jdf is deferred
        self.__dict__.update(
            _lazy_thunk=thunk, _lazy_df=None, _lazy_session=session,
            _lazy_keep=[k for k in keep if k is not None], _lazy_owned=[],
            is_cached=False, _support_repr_html=False)

    def _lazy_materialize(self) -> DataFrame:
        d = self.__dict__
        if d["_lazy_df"] is None:
            # what backs the result belongs to whoever holds this frame,
            # never to a scope that happens to be open at its first read
            outer, _local.scopes = _scopes(), []
            try:
                d["_lazy_df"] = _run(d["_lazy_thunk"], d["_lazy_owned"])
            finally:
                _local.scopes = outer
            d["_lazy_thunk"] = d["_lazy_keep"] = None
        return d["_lazy_df"]

    @property
    def _jdf(self):
        return self._lazy_materialize()._jdf

    @property
    def _session(self):
        return self.__dict__["_lazy_session"]

    @property
    def _sc(self):
        return self.__dict__["_lazy_session"]._sc
