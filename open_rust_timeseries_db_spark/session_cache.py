"""The one cache for everything the engine memoizes per Spark application.

Key ``(applicationId, scope, kind, *params)``. ``scope`` is the absolute
``sf_dir`` an entry was derived from, or for kernel checkpoints the
source plan's (semanticHash, analyzed-plan md5) pair; ``params`` tell
entries of one kind and scope apart. Bounded kinds evict the least
recently used entry first (the ``*_MAX`` constants); catalog tables,
layout paths and the stream ts peek are unbounded. An evicted kernel
checkpoint is unpersisted together with the views registered as its
children, and a hit on a child refreshes its ancestors, so LRU pressure
takes children before their parent.

Known limitation: an entry assumes the data under its scope does not
change for the life of the application, so a write into a cached scope
(``Table.flush_to_parquet``, ``append_time_layout``) is not seen until
the session restarts.
"""

from __future__ import annotations

from collections import OrderedDict

TABLE, EVENTS, PLAN, CKPT, LAYOUT, STREAM_TS = (
    "table", "events_us", "plan", "ckpt", "layout", "stream_ts"
)

# All scopes together: two live corpora (the pytest suite works sf0.001
# and sf0.01 in one session) x ~20 derived tables each, with headroom.
CKPT_MAX = 64
# Per query: one entry per session x scale factor, so a long-lived
# multi-tenant session cannot grow without bound.
PLAN_MAX = 4
EVENTS_MAX = 8

# LRU group -> entries, oldest first. Each query's plans are a group;
# every other kind is one group.
_GROUPS: dict[tuple, OrderedDict] = {}
_PARENT: dict[tuple, tuple] = {}
_CHILDREN: dict[tuple, set] = {}


def key(spark, scope, kind: str, *params) -> tuple:
    return (spark.sparkContext.applicationId, scope, kind, *params)


def _entries(k: tuple) -> OrderedDict:
    group = k[2:4] if k[2] == PLAN else k[2:3]
    return _GROUPS.setdefault(group, OrderedDict())


def _touch(k: tuple | None) -> None:
    """Refresh ``k`` and its ancestors in the LRU order."""
    while k is not None and k in _entries(k):
        _entries(k).move_to_end(k)
        k = _PARENT.get(k)


def get(k: tuple):
    """The value cached under ``k``, or None."""
    value = _entries(k).get(k)
    if value is not None:
        _touch(k)
    return value


def put(k: tuple, value, parent: tuple | None = None):
    """Cache ``value`` under ``k`` as a child of ``parent`` (or None),
    evicting over the kind's bound; returns ``value``."""
    _entries(k)[k] = value
    if parent is not None:
        _CHILDREN.setdefault(parent, set()).add(k)
        _PARENT[k] = parent
        _touch(k)
    bound = {CKPT: CKPT_MAX, PLAN: PLAN_MAX, EVENTS: EVENTS_MAX}.get(k[2])
    while bound is not None and len(_entries(k)) > bound:
        evict(next(iter(_entries(k))))
    return value


def memo(spark, scope, kind: str, *params, build):
    """The value cached for ``(scope, kind, *params)``, built on a miss."""
    k = key(spark, scope, kind, *params)
    value = get(k)
    return put(k, build()) if value is None else value


def evict(k: tuple) -> None:
    """Drop ``k`` and its children; unpersist evicted kernel checkpoints."""
    value = _entries(k).pop(k, None)
    parent = _PARENT.pop(k, None)
    if parent is not None:
        # Or a later entry under the same key could be cascade-evicted
        # through the stale edge.
        _CHILDREN.get(parent, set()).discard(k)
    for child in _CHILDREN.pop(k, ()):
        evict(child)
    if value is not None and k[2] == CKPT:
        try:
            value.unpersist()
        except Exception:  # pragma: no cover
            # An entry of a stopped application cannot be released;
            # eviction must not fail the build that triggered it.
            pass
