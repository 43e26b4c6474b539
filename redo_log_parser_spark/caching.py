"""Cache-lifecycle ownership for per-call cached frames.

Several operators (`ngram_jaccard_pairs`, `minhash_dedup_pairs`,
`embedding_near_dup_pairs`) cache() an
intermediate frame that their lazy result reads more than once within
one action. The operator cannot unpersist it (dropping the mark before
the caller's action would disable the reuse), so in a long-lived
session repeated calls accumulate pinned storage until
`spark.catalog.clearCache()` or the ContextCleaner reclaims them
(round-4 VERDICT item 4 / ADVICE).

This module gives the CALLER ownership without changing any operator
signature:

    with operator_caches() as frames:
        result = ngram_jaccard_pairs(docs).collect()   # materialize!
    # every frame the operator cached inside the block is unpersisted

Operators route every per-call `.cache()` through `register()`. With
no active context the behavior is exactly the historical one (cached,
documented leak, clearCache()/GC hygiene applies); inside a context the
frames are unpersisted (blocking) on exit. Contexts nest — each block
owns only the frames cached while it was the innermost. Thread-local,
so concurrent threads do not steal each other's frames.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_active = threading.local()


def register(df: DataFrame) -> DataFrame:
    """Record an operator's per-call cached frame with the innermost
    `operator_caches()` block, if one is active. Returns `df` so call
    sites read `register(frame.cache())`."""
    frames = getattr(_active, "frames", None)
    if frames is not None:
        frames.append(df)
    return df


@contextmanager
def operator_caches():
    """Own the cached frames of operators invoked inside the block.

    The caller MUST materialize the operators' results inside the block
    (collect/count/write) — the frames are unpersisted on exit, so a
    still-lazy result loses its cache reuse (correctness is unaffected;
    Spark recomputes)."""
    frames: list[DataFrame] = []
    prev = getattr(_active, "frames", None)
    _active.frames = frames
    try:
        yield frames
    finally:
        _active.frames = prev
        for df in frames:
            try:
                df.unpersist(blocking=True)
            except Exception:
                pass  # session already stopped — nothing to release
