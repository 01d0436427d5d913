"""The engine's two caches: ``ResultCache`` for query results and
``SessionStore`` for the relations a session builds once.

``ResultCache`` is a param-keyed TTL result cache — the engine twin of
the reference's memcache layer (trends/listing/service.go:78-124).

The reference caches gob-encoded query results under the key
"{fromMs}-{toMs}-{curFrom}-{curTo}" with a 60 s TTL (service.go:83,118)
and falls through to the database on any cache error.  ``df.persist()``
can't express this (it is plan-keyed, not parameter-keyed), so the
cache sits above ``collect()``: same keying, same TTL semantics, same
read-through behavior.  Size-bounded LRU eviction guards the driver
heap (results are small aggregates by construction — the reference's
are, too).
"""

from __future__ import annotations

import time
from collections import OrderedDict
from threading import Event, Lock

DEFAULT_TTL_S = 60.0  # trends/listing/service.go:118


class ResultCache:
    def __init__(self, ttl_s: float = DEFAULT_TTL_S, max_entries: int = 1024,
                 clock=time.monotonic):
        self.ttl_s = ttl_s
        self.max_entries = max_entries
        self._clock = clock
        self._lock = Lock()
        self._data: OrderedDict[str, tuple[float, object]] = OrderedDict()
        self.hits = 0
        self.misses = 0

    @staticmethod
    def key(*parts) -> str:
        """Composite key, mirroring service.go:83."""
        return "-".join(str(p) for p in parts)

    def get(self, key: str):
        with self._lock:
            entry = self._data.get(key)
            if entry is None:
                self.misses += 1
                return None
            expires, value = entry
            if self._clock() >= expires:
                del self._data[key]
                self.misses += 1
                return None
            self._data.move_to_end(key)
            self.hits += 1
            return value

    def put(self, key: str, value) -> None:
        with self._lock:
            self._data[key] = (self._clock() + self.ttl_s, value)
            self._data.move_to_end(key)
            while len(self._data) > self.max_entries:
                self._data.popitem(last=False)

    def get_or_compute(self, key: str, compute):
        """Read-through (service.go:86-97): hit -> cached rows; miss ->
        run query, write back, return."""
        cached = self.get(key)
        if cached is not None:
            return cached
        value = compute()
        self.put(key, value)
        return value


class SessionStore:
    """The build-once cache: what a session derives from an ``sf_dir``
    once and serves to every query — table plans (sources/catalog.py),
    the dedup relations and the trained IVF index (plans/prepare.py).

    One entry per (applicationId, sf_dir), so a restarted session never
    sees another JVM's relations; inside it, one value per name.  At
    most ``capacity`` entries, LRU.  Eviction unpersists the entry's
    DataFrames (tuple members too) with ``blocking=False``: a consumer
    still running over one recomputes it, never reads it corrupted.

    Builds run outside the lock.  A caller that misses a name while
    another caller builds it waits for that build: a second build
    would train twice and leave the losing copy persisted.  A failed
    build is retried by the next caller."""

    def __init__(self, capacity: int = 4):
        self.capacity = capacity
        self._lock = Lock()
        self._entries: OrderedDict[tuple[str, str], dict[str, object]] = \
            OrderedDict()
        self._building: dict[tuple, Event] = {}

    @staticmethod
    def _key(spark, sf_dir: str) -> tuple[str, str]:
        return spark.sparkContext.applicationId, sf_dir

    def get(self, spark, sf_dir: str, name: str, build):
        """The value ``name`` of ``sf_dir``'s entry; on a miss,
        ``build()`` makes it (once, however many callers miss)."""
        key = self._key(spark, sf_dir)
        while True:
            with self._lock:
                entry = self._entries.get(key)
                if entry is not None:
                    self._entries.move_to_end(key)
                    if name in entry:
                        return entry[name]
                done = self._building.get((key, name))
                if done is None:
                    done = self._building[(key, name)] = Event()
                    break
            done.wait()     # then re-read: the build may have failed
        try:
            value = build()
            with self._lock:
                # an entry evicted while this build ran is re-created:
                # the fresh value is the most recently used one
                self._entries.setdefault(key, {})[name] = value
                self._entries.move_to_end(key)
                evicted = [self._entries.popitem(last=False)[1] for _ in
                           range(len(self._entries) - self.capacity)]
        finally:
            with self._lock:
                del self._building[(key, name)]
            done.set()
        for old in evicted:
            _release(old)
        return value

    def evict(self, spark, sf_dir: str) -> None:
        """Drop ``sf_dir``'s entry and unpersist its DataFrames."""
        with self._lock:
            old = self._entries.pop(self._key(spark, sf_dir), None)
        if old is not None:
            _release(old)


def _release(entry: dict[str, object]) -> None:
    from pyspark.sql import DataFrame

    for value in entry.values():
        for v in value if isinstance(value, tuple) else (value,):
            if isinstance(v, DataFrame):
                v.unpersist(blocking=False)


#: the process's one store (see SessionStore)
SESSION = SessionStore()
