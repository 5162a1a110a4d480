"""Cluster-safe materialization barrier for shared query subtrees.

Several plans compute a subtree once and let every downstream consumer read
the materialized result instead of re-planting the subtree per consumer
(the session-shared token-signature, term-frequency and embedding tables,
q78's PQ code table, the CC label rounds, the DAQ chain's event table).
Round 14 used ``localCheckpoint`` for all of them, which is the right call
on ``local[N]``: blocks live in the one process that is also the driver,
so "executor loss" is process death and replication buys nothing.  On a real cluster it is the wrong
call (optimization guide §5): localCheckpoint stores unreplicated
executor-local blocks AND truncates lineage, so one lost executor turns a
recomputable intermediate into a failed query.

``materialize`` keeps the local behavior bit-for-bit (bench plans and
timings are unchanged) and switches to ``persist(MEMORY_AND_DISK)`` under
any non-local master: the CacheManager substitutes the cached relation
for every consumer (same single-computation guarantee), while the logical
plan keeps its lineage so a lost executor's blocks are recomputed instead
of sinking the query.

Both mechanisms register persistent RDDs with the context, so the RDD-id
diff bookkeeping used by the CC loop / shared-intermediate cache releases
storage identically for either branch.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def _local_master(master: str) -> bool:
    """True when the whole app is one process (local / local[N] /
    local[N,R] / local-cluster[...] is NOT local: it has real executors)."""
    return master == "local" or (
        master.startswith("local[") and not master.startswith("local-cluster")
    )


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialization barrier: compute ``df`` once, let every consumer
    read the result.

    local master: ``localCheckpoint(eager)`` — cheapest barrier, lineage
    truncation is free when executor loss means process loss anyway.
    cluster master: ``persist(MEMORY_AND_DISK)`` (+ count when eager) —
    lineage kept, so executor loss recomputes instead of failing.
    """
    master = df.sparkSession.sparkContext.master
    if _local_master(master):
        return df.localCheckpoint(eager=eager)
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        out.count()
    return out


@contextmanager
def materialize_scope(sc):
    """Scope for one unit of work (a streaming micro-batch) whose
    materializations must not outlive it.  Yields a list; the body
    appends every frame it ``materialize()``s.  On exit each is
    ``unpersist()``ed, dependents first — the persist branch's
    CacheManager entry is dropped only that way — and any persistent RDD
    the body left behind (the local branch's checkpoint blocks) is
    released by the RDD-id diff."""
    from .plans.text_dedup import _persistent_rdd_ids, _unpersist_rdd_ids

    before = _persistent_rdd_ids(sc)
    held: list = []
    try:
        yield held
    finally:
        for df in reversed(held):
            df.unpersist()
        _unpersist_rdd_ids(sc, _persistent_rdd_ids(sc) - before)
