"""Persist lifecycle management.

Two distinct persist lifetimes exist in the plan layer, and both used to
leak cached partitions in a long-running session:

- **query-scoped staging** (e.g. the MinHash shingle/signature frames,
  reused by several branches of one plan): persisted for the duration of
  one query, dead afterwards.  ``scoped_persist`` registers them;
  ``release_scoped`` unpersists everything registered.  The query registry
  calls ``release_scoped`` on entry to every top-level query — sequential
  driver/bench execution guarantees the previous query's result has been
  fully consumed by then, so the release is safe and deterministic (no
  reliance on the JVM ContextCleaner's GC timing).
- **cross-query caches** (the topic-token and topic-fit frames shared by
  the M9/A11 queries): intentionally outlive single queries.
  ``FrameCache`` bounds them — a tiny keyed LRU that unpersists evicted
  entries, so a session touching many scale factors holds at most
  ``max_entries`` cached frames per cache instead of one per (app, sf)
  forever.

``release_all`` drops both tiers (test sweeps, session teardown).
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame

_SCOPED: list[DataFrame] = []
#: (SparkContext, rdd ids) of query-scoped localCheckpoints —
#: ``DataFrame.unpersist`` does NOT release checkpoint blocks (they are
#: RDD-level persists outside the SQL cache manager), so they are freed
#: by JVM-side ``JavaRDD.unpersist`` on the recorded ids
_SCOPED_CKPTS: list[tuple[object, set[int]]] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist a frame for the current query's lifetime only."""
    df.persist()
    _SCOPED.append(df)
    return df


def _persistent_rdd_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def scoped_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` whose storage is released with the
    query scope.

    Iterative operators (connected components, label propagation)
    checkpoint per round to truncate lineage; the checkpointed RDDs
    otherwise live until the JVM ContextCleaner happens to collect them.
    Recording the rdd-id delta around the checkpoint lets
    ``release_scoped`` free them deterministically.

    Contract: a checkpointed frame is DEAD once its query scope ends —
    unlike a released persist (which silently recomputes), re-executing a
    plan over a freed checkpoint raises, because the checkpoint truncated
    the lineage.  Results must be consumed within their query scope,
    which the sequential driver/bench execution guarantees.
    """
    sc = df.sparkSession.sparkContext
    before = _persistent_rdd_ids(sc)
    out = df.localCheckpoint(eager=True)
    _SCOPED_CKPTS.append((sc, _persistent_rdd_ids(sc) - before))
    return out


def scope_mark() -> tuple[int, int]:
    """Snapshot of the scoped tier for NESTED scopes.

    An operator that runs inside a caller's query scope must not free
    the caller's scoped persists/checkpoints — for checkpoints that would
    make later reuse *raise* rather than recompute.  Take a mark on
    entry and pass it to ``release_scoped(since=mark)`` to free only
    frames registered after the mark (``scripts/span_curve.py`` does this
    per measured run, keeping its checkpointed corpus alive).
    """
    return (len(_SCOPED), len(_SCOPED_CKPTS))


def release_scoped(since: tuple[int, int] | None = None) -> None:
    """Unpersist query-scoped frames (called between queries).

    Without ``since`` the whole tier is released (the registry's
    release-on-entry hook).  With ``since`` (a :func:`scope_mark`),
    only frames registered after the mark are freed — earlier entries
    belong to an enclosing scope and stay live.
    """
    p0, c0 = since if since is not None else (0, 0)
    for df in _SCOPED[p0:]:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    del _SCOPED[p0:]
    for sc, rdd_ids in _SCOPED_CKPTS[c0:]:
        try:
            jmap = sc._jsc.getPersistentRDDs()
            for k in jmap.keySet().toArray():
                if int(k) in rdd_ids:
                    jmap.get(k).unpersist()
        except Exception:
            pass
    del _SCOPED_CKPTS[c0:]


class FrameCache:
    """Keyed LRU of persisted DataFrames with unpersist-on-evict.

    A frame that optimizes to a ``LocalRelation`` (driver-built rows)
    is kept unpersisted: its rows already live in the plan, and a
    persist would only add a cache-build job to its first use and an
    in-memory scan job to every broadcast of it."""

    def __init__(self, max_entries: int = 2):
        self.max_entries = max_entries
        self._entries: OrderedDict[object, DataFrame] = OrderedDict()
        _CACHES.append(self)

    def get_or_build(self, key: object,
                     build: Callable[[], DataFrame]) -> DataFrame:
        if key in self._entries:
            self._entries.move_to_end(key)
            return self._entries[key]
        df = build()
        if (df._jdf.queryExecution().optimizedPlan().getClass()
                .getSimpleName() != "LocalRelation"):
            df.persist()
        self._entries[key] = df
        while len(self._entries) > self.max_entries:
            _, old = self._entries.popitem(last=False)
            old.unpersist()
        return df

    def evict(self, key: object) -> None:
        df = self._entries.pop(key, None)
        if df is not None:
            df.unpersist()

    def clear(self) -> None:
        for df in self._entries.values():
            try:
                df.unpersist()
            except Exception:
                pass
        self._entries.clear()


_CACHES: list[FrameCache] = []


def release_all() -> None:
    """Drop every scoped persist and every FrameCache entry."""
    release_scoped()
    for cache in _CACHES:
        cache.clear()
