"""Operator-scoped cache-pin registry (the ADVICE-r5 persist-leak fix).

Some operators persist a genuinely-shared expensive subtree (the
set-similarity join's shingled frame feeds postings AND both verification
sides; recomputing it per reference measured ~2.5x the operator wall
time). A bare ``.persist()`` on a frame the returned-lazy DataFrame still
references can never be unpersisted by the operator itself — so across a
long bench/notebook session every invocation pinned a new CacheManager
entry forever (graph.py can unpersist inline only because its driver loop
runs actions).

The registry bounds that: each persist site registers under a stable
operator-scoped key, and registering RELEASES the previous frame pinned
under the same key. Steady state is at most one pinned frame per site —
repeated invocations accumulate nothing — and ``release_pins()`` drops
everything (bench harnesses and sweeps call it at exit). Unpersisting a
frame an earlier returned DataFrame still references is correctness-safe:
Spark recomputes the subtree instead of reading cache.

At real cluster scale the equivalent is stage materialization to durable
storage (a bucketed temp table); MEMORY_AND_DISK persist is the local
single-session form of the same plan shape.

Pins are AQE-coalesced: the session sets
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``, so a pin
whose plan ends in a shuffle holds as many partitions as its bytes need
(at most ``spark.sql.shuffle.partitions``), not always the ceiling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_PINS: dict[str, DataFrame] = {}
# memo_pin bookkeeping: the (params) a pinned frame was built with, so a
# repeat call can RETURN the already-materialized frame instead of
# re-persisting a fresh (empty-cache) plan — swap_pin alone can't reuse.
_PIN_PARAMS: dict[str, tuple] = {}


def input_fingerprint(*paths: str) -> tuple:
    """Cheap driver-side fingerprint of the files under ``paths``: a
    sorted ((file, size, mtime_ns), ...) listing, directories walked
    recursively, missing paths recorded as (path, -1, -1). Folding this
    into memo params makes a same-path REWRITE (an in-place re-ingest, a
    notebook regenerating its corpus dir) change the memo identity — the
    VERDICT r10 staleness hazard: a path-keyed memo silently served the
    STALE frame to every consumer after the bytes under the path changed.

    This is a stat-based APPROXIMATION of content identity, not a hash
    (ADVICE r11): a rewrite that preserves both size and mtime_ns — a
    same-size write on a filesystem with coarse mtime granularity, or an
    mtime-preserving copy — is indistinguishable from the original and
    still serves the pin. That is the same contract Spark's own file
    index and most build caches accept; nanosecond mtimes make the
    collision window one same-size write within the same nanosecond.
    Callers that rewrite inputs in place should release the pin
    explicitly (release_pins(key)) instead of relying on the stat delta.
    A file deleted between the walk and its stat records as (path, -1,
    -1) — the same "not readable as before" identity as a missing path —
    rather than raising out of memo_pin.
    """
    out = []

    def stat_row(fp: str) -> tuple:
        try:
            st = os.stat(fp)
        except OSError:
            return (fp, -1, -1)
        return (fp, st.st_size, st.st_mtime_ns)

    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs.sort()
                for f in sorted(files):
                    out.append(stat_row(os.path.join(root, f)))
        elif os.path.exists(p):
            out.append(stat_row(p))
        else:
            out.append((p, -1, -1))
    return tuple(out)


def memo_pin(
    key: str, spark, params: tuple, builder, level=None, inputs: tuple = ()
) -> DataFrame:
    """Cross-invocation pin: return the frame already pinned under ``key``
    if it was built with the same ``params`` (and, when ``inputs`` names
    the source files, the same on-disk bytes) on the same live session;
    otherwise build (via the zero-arg ``builder``), swap-pin, and record.

    This is the sharing device swap_pin alone cannot provide: swap_pin
    RELEASES the previous frame on every call, so two operators calling
    it back-to-back would each pay the full recompute. memo_pin keeps
    steady state at one pinned frame per key (params change → the old pin
    is released by swap_pin underneath) while letting every consumer of
    the same (key, params) hit the materialized cache. The session check
    guards notebook/pytest patterns where a torn-down session's frame
    would otherwise be handed to a new one.

    ``inputs`` (paths the builder reads) closes the same-path-rewrite
    staleness hazard (VERDICT r10 item 4): their ``input_fingerprint``
    is folded into the memo identity, so rewriting the corpus at the
    SAME path invalidates the pin instead of serving stale data — a
    param tuple alone is a PATH identity, not a data identity.
    """
    if inputs:
        params = (params, input_fingerprint(*inputs))
    cur = _PINS.get(key)
    if cur is not None and _PIN_PARAMS.get(key) == params:
        try:
            if cur.sparkSession is spark:
                return cur
        except Exception:
            pass  # torn-down session: fall through and rebuild
    out = swap_pin(key, builder(), level or StorageLevel.MEMORY_AND_DISK)
    _PIN_PARAMS[key] = params
    return out


def swap_pin(
    key: str,
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df`` under ``key``, releasing whatever was pinned there
    by a previous invocation. Returns the persisted frame."""
    _PIN_PARAMS.pop(key, None)  # a direct swap invalidates any memo record
    prev = _PINS.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # a torn-down session's frame has nothing left to release
    out = df.persist(level)
    _PINS[key] = out
    return out


def release_pins(*keys: str) -> int:
    """Unpersist the named pins (all pins if none named); returns the
    number released. Call at the end of a bench run / sweep / session."""
    names = list(keys) if keys else list(_PINS)
    n = 0
    for k in names:
        df = _PINS.pop(k, None)
        _PIN_PARAMS.pop(k, None)
        if df is not None:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
            n += 1
    return n
