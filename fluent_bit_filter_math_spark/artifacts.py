"""One session-scoped store for every artifact the engine reuses
across queries.

The reference fold (math.c) is stateless per record. Everything the
engine keeps between queries — materialized indexes (shingle, edge,
triangle, PPR ranks), prepared on-disk layouts and replay splits,
memoized expression trees — is an extension, and this module is the
one place that decides how such an artifact is keyed, when it is built
and how it is freed:

* **Key** — ``(applicationId, tag, abspath(sf_dir), *extra)``. The
  applicationId scopes an entry to one SparkContext: after
  ``spark.stop()`` and a new session, nothing built on the old context
  (a DataFrame, a py4j Column, a directory) is served again. ``abspath``
  makes ``d/../sf`` and ``sf`` one entry.
* **Build** — once per key. Each key has its own lock, so concurrent
  ``overlap()`` callers of one key build once while different keys
  still build in parallel.
* **Free** — decided by the value's type: a DataFrame has its
  localCheckpoint blocks released (or is unpersisted), a directory path
  is removed, a tuple is freed element by element in reverse build
  order, anything else is dropped. A path entry whose directory has
  vanished counts as a miss. Directories from :func:`new_dir` live
  under one private (mode 0700) root that a single atexit hook removes.

Validity checks stricter than "the directory exists" stay at the call
site, which releases and rebuilds when its check fails.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from typing import Any, Callable, TypeVar

from pyspark.sql import DataFrame

from fluent_bit_filter_math_spark.ckpt import release_local_checkpoint

T = TypeVar("T")
_MISSING = object()


def _live(value: Any) -> bool:
    if isinstance(value, str):
        return os.path.isdir(value)
    if isinstance(value, tuple):
        return all(_live(v) for v in value)
    return True


def _free(value: Any) -> None:
    if isinstance(value, DataFrame):
        if not release_local_checkpoint(value):
            value.unpersist()
    elif isinstance(value, str):
        shutil.rmtree(value, ignore_errors=True)
    elif isinstance(value, tuple):
        for v in reversed(value):
            _free(v)


class ArtifactStore:
    """Keyed artifacts with per-key build locks; see the module doc."""

    def __init__(self) -> None:
        self._entries: dict[tuple, Any] = {}
        self._locks: dict[tuple, threading.Lock] = {}
        self._guard = threading.Lock()
        self._root: str | None = None

    @staticmethod
    def _app_id(spark) -> str:
        # a SparkSession, or a bare SparkContext for callers that have
        # no session in hand (the Column builders in functions/)
        return getattr(spark, "sparkContext", spark).applicationId

    def get_or_build(
        self,
        spark,
        tag: str,
        sf_dir: str | None,
        build: Callable[[], T],
        *extra,
    ) -> T:
        """The live artifact under the key, building it on a miss."""
        d = None if sf_dir is None else os.path.abspath(sf_dir)
        key = (self._app_id(spark), tag, d, *extra)
        value = self._entries.get(key, _MISSING)
        if value is not _MISSING and _live(value):
            return value
        with self._guard:
            lock = self._locks.setdefault(key, threading.Lock())
        with lock:
            value = self._entries.get(key, _MISSING)
            if value is not _MISSING:
                if _live(value):
                    return value
                with self._guard:
                    del self._entries[key]
                _free(value)  # whatever part of it has not vanished
            value = build()
            with self._guard:
                self._entries[key] = value
            return value

    def _drop(self, spark, tag: str | None, sf_dir: str | None) -> None:
        app = self._app_id(spark)
        d = None if sf_dir is None else os.path.abspath(sf_dir)
        with self._guard:
            doomed = [
                k for k in self._entries
                if k[0] == app
                and (tag is None or k[1] == tag)
                and (d is None or k[2] == d)
            ]
            values = [self._entries.pop(k) for k in doomed]
        for v in reversed(values):  # later builds may read earlier ones
            _free(v)

    def release(self, spark, tag: str, sf_dir: str | None = None) -> None:
        """Free the session's *tag* entries (one sf_dir, or all)."""
        self._drop(spark, tag, sf_dir)

    def release_all(self, spark) -> None:
        """Free every entry of the session, so each is rebuilt."""
        self._drop(spark, None, None)

    def keys(self, spark, tag: str | None = None) -> list[tuple]:
        """The session's keys (of one *tag*, or all)."""
        app = self._app_id(spark)
        with self._guard:
            return [
                k for k in self._entries
                if k[0] == app and (tag is None or k[1] == tag)
            ]

    def new_dir(self, tag: str) -> str:
        """A fresh empty directory under the store's private root."""
        with self._guard:
            if self._root is None or not os.path.isdir(self._root):
                self._root = tempfile.mkdtemp(prefix="fbm-artifacts-")
            root = self._root
        return tempfile.mkdtemp(prefix=f"{tag}-", dir=root)

    def close(self) -> None:
        if self._root is not None:
            shutil.rmtree(self._root, ignore_errors=True)


_STORE = ArtifactStore()
atexit.register(_STORE.close)

get_or_build = _STORE.get_or_build
release = _STORE.release
release_all = _STORE.release_all
keys = _STORE.keys
new_dir = _STORE.new_dir
