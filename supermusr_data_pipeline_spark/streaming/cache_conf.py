"""Scoped, nesting-safe flip of the in-memory-cache compression conf.

The FSM door's sink (``nexus_stream.NexusStreamWriter``) persists its
micro-batch for exactly one cycle (< 2 s): columnar compression of the
event arrays there is pure CPU (measured ~55 ms on the cache-building
job + ~15 ms per cache-hit job at the 54-frame 32x500 batch shape),
while the batch plans' long-lived persists (LSH edges, postings tf, IVF
fit) rightly keep compression.

A naive set-before / restore-after around each persist has two failure
modes: an exception between set and the restoring finally leaves the
session uncompressed forever, and two writers interleaving in one
session (two FSM-door streams) can each capture the other's 'false' as
their prior and restore it last.  This context manager fixes both:
depth-counted under one process lock, the OUTERMOST entry captures the
session value and the outermost exit restores it, always through
try/finally."""

from __future__ import annotations

import threading
from contextlib import contextmanager

_KEY = "spark.sql.inMemoryColumnarStorage.compressed"
_LOCK = threading.Lock()
_DEPTH = 0
_PRIOR: str | None = None


@contextmanager
def uncompressed_cache(spark):
    global _DEPTH, _PRIOR
    with _LOCK:
        if _DEPTH == 0:
            _PRIOR = spark.conf.get(_KEY, "true")
            spark.conf.set(_KEY, "false")
        _DEPTH += 1
    try:
        yield
    finally:
        with _LOCK:
            _DEPTH -= 1
            if _DEPTH == 0:
                spark.conf.set(_KEY, _PRIOR)
