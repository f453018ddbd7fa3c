"""Per-process scratch directories for sink round-trip queries.

Several queries materialize through a filesystem sink (parquet stream
sink, custom JSON-line Python sink, Arrow-IPC foreachBatch sink) and
read the result back. They need a scratch dir that is

* **private** — earlier revisions used predictable pid-derived paths
  (``/tmp/fbm-json-sink-<pid>``) with ``makedirs(exist_ok=True)``
  after an ``ignore_errors`` rmtree; if a stale same-named dir owned
  by another user existed, the rmtree silently no-opped and the query
  read foreign files mixed into its own output (r7 ADVICE, medium).
  ``tempfile.mkdtemp`` creates a fresh mode-0700 dir we own, with an
  unpredictable suffix, so that failure mode cannot occur.
* **bounded** — a bench run re-invokes each query REPS times; one new
  mkdtemp per invocation grows disk by REPS × |output| before any
  atexit sweep fires. We therefore create ONE base dir per
  (process, tag) and keep exactly one *generation* subdirectory alive
  inside it, so at most a single copy of each sink's output exists at
  any time.
* **loudly invalidating** — re-invoking a sink query INVALIDATES any
  DataFrame a previous invocation returned (those read lazily from
  the sink path). Each call returns a fresh ``gen-N`` subdirectory
  and deletes ``gen-(N-1)``, so a held stale DataFrame fails at scan
  time with a missing-path error instead of silently reading the new
  invocation's files (r8 ADVICE: the old wipe-in-place reuse made
  stale reads succeed on wrong data).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_BASES: dict[str, str] = {}
_GENS: dict[str, int] = {}


def scratch_dir(tag: str) -> str:
    """Return an empty private scratch dir for one sink invocation.

    The returned path is a fresh ``gen-N`` subdirectory of a
    per-(process, tag) ``mkdtemp`` base; the previous generation is
    removed first (raises on failure — never risk a dirty or
    half-shared scratch). Consequence callers rely on: a DataFrame
    returned by a PREVIOUS invocation of the same query becomes
    invalid here and will raise on its next action rather than read
    this invocation's output.
    """
    base = _BASES.get(tag)
    if base is None or not os.path.isdir(base):
        base = tempfile.mkdtemp(prefix=f"fbm-{tag}-")
        _BASES[tag] = base
        _GENS[tag] = -1
        atexit.register(shutil.rmtree, base, ignore_errors=True)
    gen = _GENS[tag] = _GENS[tag] + 1
    if gen:
        prev = os.path.join(base, f"gen-{gen - 1}")
        if os.path.isdir(prev):
            shutil.rmtree(prev)  # raises on failure: keep disk bounded
    d = os.path.join(base, f"gen-{gen}")
    os.makedirs(d)
    return d
