"""One process-wide keyed memo for every cache in the engine and driver.

The reference routes its dictionary and link-value caches through one
``CacheFactory``; this is the Spark rebuild's equivalent.  Rules:

* **Key** — the whole tuple, led by a namespace string and, wherever the
  value is bound to a Spark session, the session's ``applicationId``.
  The key must hold every input that changes the value.
* **Build once** — each key has its own lock, so threads that miss the
  same key build it once; unrelated keys never wait on each other.
* **Invalidation** — ``forget`` bumps a generation counter.  A value whose
  build began before a ``forget`` is returned to its caller but not
  stored, so a build that raced a write cannot re-insert stale state.
* **Bound** — ``max_entries`` caps a namespace (``key[0]``): once full,
  further values are built and returned but not stored.
"""

from __future__ import annotations

import threading
from collections import Counter
from typing import Any, Callable, Hashable, Optional, Tuple

_MISSING = object()
_TABLE: dict = {}
_LOCKS: dict = {}
_SIZES: Counter = Counter()
_GUARD = threading.Lock()
_generation = 0


def memo(key: Tuple[Hashable, ...], build: Callable[[], Any],
         max_entries: Optional[int] = None) -> Any:
    """The value stored under ``key``, building (and storing) it on a miss."""
    value = _TABLE.get(key, _MISSING)
    if value is not _MISSING:
        return value
    with _GUARD:
        lock = _LOCKS.setdefault(key, threading.Lock())
    try:
        with lock:
            value = _TABLE.get(key, _MISSING)
            if value is _MISSING:
                begun = _generation
                value = build()
                with _GUARD:
                    # a racing builder that started after a forget may
                    # have stored first; keep its value and the count
                    if begun == _generation and key not in _TABLE and (
                            max_entries is None
                            or _SIZES[key[0]] < max_entries):
                        _TABLE[key] = value
                        _SIZES[key[0]] += 1
    finally:
        with _GUARD:
            if _LOCKS.get(key) is lock:
                del _LOCKS[key]
    return value


def peek(key: Tuple[Hashable, ...]) -> Any:
    """The value stored under ``key``, or None; never builds."""
    return _TABLE.get(key)


def forget(match: Callable[[tuple], bool]) -> None:
    """Drop every stored key for which ``match(key)`` is true, and keep
    any build already in flight from storing its (possibly stale) value."""
    global _generation
    with _GUARD:
        _generation += 1
        for key in [k for k in _TABLE if match(k)]:
            del _TABLE[key]
            _SIZES[key[0]] -= 1
