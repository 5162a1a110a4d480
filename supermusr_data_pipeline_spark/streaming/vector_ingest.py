"""Streaming vector-index ingestion: SemDeDup admission as a continuous
front door over the persisted IVF index (the embedding-side twin of
streaming/shard_ingest.py).

Each micro-batch of arriving vectors is checked against the STANDING
cell-partitioned index (plans/ivf_index.py's layout): batch vectors
assign to their coarse cell via the broadcast codebook literals, the
index is scanned ONLY in the batch's occupied cells (a literal
``cell IN (...)`` — PartitionFilters, unprobed directories never read),
and a vector whose in-cell cosine against the index (or an earlier peer
in the same batch) reaches the SemDeDup bar is rejected.  Admitted
vectors APPEND to the index inside the same foreachBatch transaction, so
the next micro-batch deduplicates against them — cross-batch semantic
dedup emerges from index growth, with no stream state at all (the index
IS the state, on disk, shared with every q64-style probe).

In-cell-only comparison is q58's rule, with q58's recall trade: a
near-dup pair split across a cell boundary is missed; the operator
controls that with the codebook fit (q48 monitors it), and the full-tape
q58 pass is the lambda backfill, exactly as near_dup_reconcile backfills
the LSH stream.

Failure semantics (the shard_ingest contract, shared): the append
itself is idempotent — each micro-batch's admitted vectors land as
their own ``bid=<batch_id>`` segment partitions inside the cell
directories via dynamic partition overwrite, so a crash-retry REPLACES
its segment instead of duplicating rows, and the decision recompute
excludes its own segment (``bid != batch_id``, a partition filter) so
it is byte-identical to the first run (a vector must not flip to
dup-of-base by matching itself at cosine 1.0).  A vec_id redelivered by
an at-least-once source in a LATER batch is found in an earlier segment
and short-circuits to ``already_ingested`` instead of appending a
duplicate index row.  Non-streaming writers (the bulk build,
compaction) use reserved NEGATIVE segment ids — bid=-1 — so a streaming
overwrite can never clobber them; one streaming writer per index.

Scale shape per batch: one narrow cell-assignment pass over the batch,
one partition-pruned index scan of the occupied cells, one broadcast
join (the batch side is micro-batch-sized), one batch-internal self-join
bounded by per-cell batch counts, and an append of the admitted slice.
Nothing scans the base corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize, materialize_scope
from ..plans.index_maintenance import resolve_dir
from ..plans.text_dedup import _SEM_TAU, _codebook, _ivf_dots_spark, _probe_order_spark

_COS = (
    "round(aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, x) -> s + x)"
    " / (sqrt(aggregate(transform({a}, x -> x * x), 0D, (s, x) -> s + x))"
    " * sqrt(aggregate(transform({b}, x -> x * x), 0D, (s, x) -> s + x))), 6)"
)


def assign_cells(vecs: DataFrame, cents) -> DataFrame:
    """(vec_id, emb, cell): the q29 coarse assignment over arbitrary rows
    with an ``embedding`` array column (any float width)."""
    po = _probe_order_spark(len(cents))
    return (
        vecs.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
        )
        .withColumn("dots", F.expr(_ivf_dots_spark("emb", cents)))
        .select("vec_id", "emb", F.expr(f"element_at({po}, 1)").alias("cell"))
    )


# reserved segment id for non-streaming writers of the vector index (the
# bulk build and compaction); streaming batches use their non-negative
# batch ids — the id-space rule shared with shard_ingest/postings_ingest
VEC_BASE_BID = -1


def admit_vector_batch(
    batch_vecs: DataFrame,
    index_path: str,
    cents,
    tau: float = _SEM_TAU,
    exclude_bid: int | None = None,
) -> DataFrame:
    """Admission decisions for one micro-batch against the standing index:
    (vec_id, cell, already_ingested, dups_base, dups_earlier_peer, admit,
    reason).  ``exclude_bid`` is the crash-retry own-segment exclusion —
    see shard_ingest.admit_batch for the contract."""
    return _admit_assigned(
        assign_cells(batch_vecs, cents), index_path, tau, exclude_bid
    )


def _admit_assigned(
    batch: DataFrame,
    index_path: str,
    tau: float,
    exclude_bid: int | None = None,
) -> DataFrame:
    """Decisions from an already-assigned (vec_id, emb, cell) batch — the
    streaming path hands a per-batch checkpoint here so the assignment
    isn't recomputed per consumer (and releases it after the writes).

    Crash-retry vs redelivery (the shard_ingest contract): on a re-run of
    a batch that already appended, ``exclude_bid`` (= the batch's own id)
    prunes its segment partitions out of the index side, making the
    recompute byte-identical to run one.  Any OTHER batch vec_id found in
    the index was ingested by an earlier batch (at-least-once source
    redelivery) and short-circuits to ``already_ingested`` — identity is
    by vec_id, and the occupied-cells partition filter still finds it
    because the same embedding assigns to the same cell under the fixed
    codebook."""
    spark = batch.sparkSession
    batch_ids = batch.select("vec_id").distinct()
    # literal partition filter: only the batch's occupied cells are read
    cells = sorted(r.cell for r in batch.select("cell").distinct().collect())
    idx = spark.read.parquet(resolve_dir(index_path)).filter(F.col("cell").isin(cells))
    if exclude_bid is not None:
        idx = idx.filter(F.col("bid") != int(exclude_bid))
    idx = idx.select(
        F.col("vec_id").alias("old_id"),
        F.col("emb").alias("old_emb"),
        F.col("cell").cast("int").alias("cell"),
    )
    already = (
        idx.select(F.col("old_id").alias("vec_id"))
        .join(F.broadcast(batch_ids), "vec_id", "leftsemi")
        .distinct()
        .withColumn("already_ingested", F.lit(True))
    )
    cos_base = _COS.format(a="emb", b="old_emb")
    dups_base = (
        F.broadcast(batch)
        .join(idx, "cell")
        .filter(F.expr(cos_base) >= tau)
        .select("vec_id")
        .distinct()
        .withColumn("dups_base", F.lit(True))
    )
    a = batch.select(
        F.col("vec_id").alias("first_id"), F.col("emb").alias("ea"), "cell"
    )
    b = batch.select(
        F.col("vec_id").alias("vec_id"), F.col("emb").alias("eb"),
        F.col("cell").alias("cb"),
    )
    cos_peer = _COS.format(a="ea", b="eb")
    dups_peer = (
        a.join(b, (F.col("cell") == F.col("cb")) & (F.col("first_id") < F.col("vec_id")))
        .filter(F.expr(cos_peer) >= tau)
        .select("vec_id")
        .distinct()
        .withColumn("dups_earlier_peer", F.lit(True))
    )
    return (
        batch.select("vec_id", "cell")
        .join(F.broadcast(already), "vec_id", "left")
        .join(F.broadcast(dups_base), "vec_id", "left")
        .join(F.broadcast(dups_peer), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("already_ingested", F.lit(False)).alias("already_ingested"),
            F.coalesce("dups_base", F.lit(False)).alias("dups_base"),
            F.coalesce("dups_earlier_peer", F.lit(False)).alias("dups_earlier_peer"),
        )
        .select(
            "vec_id",
            "cell",
            "already_ingested",
            "dups_base",
            "dups_earlier_peer",
            (
                ~F.col("already_ingested")
                & ~F.col("dups_base")
                & ~F.col("dups_earlier_peer")
            ).alias("admit"),
            F.when(F.col("already_ingested"), "already_ingested")
            .when(F.col("dups_base"), "sem_dup_of_base")
            .when(F.col("dups_earlier_peer"), "sem_dup_of_earlier_peer")
            .otherwise("admitted")
            .alias("reason"),
        )
    )


def _append_admitted(
    batch_vecs: DataFrame, admitted: DataFrame, index_path: str, cents,
    bid: int,
) -> None:
    _append_assigned(assign_cells(batch_vecs, cents), admitted, index_path, bid)


def _append_assigned(
    assigned: DataFrame, admitted: DataFrame, index_path: str, bid: int
) -> None:
    """Write the admitted slice as the ``bid`` segment's (cell, bid)
    partitions — dynamic overwrite, so a crash-retry replaces its own
    segment instead of appending duplicates."""
    rows = assigned.join(admitted.select("vec_id"), "vec_id")
    (
        rows.withColumn("bid", F.lit(int(bid)))
        .repartition("cell")
        .write.partitionBy("cell", "bid")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(resolve_dir(index_path))
    )


def write_vector_index(base_vecs: DataFrame, index_path: str, cents) -> None:
    """Bulk build of the standing vector index: (vec_id, emb, cell, bid)
    partitioned by (cell, bid) with the reserved bid=-1 base segment —
    the layout every reader (admission probes, compaction) expects."""
    (
        assign_cells(base_vecs, cents)
        .withColumn("bid", F.lit(VEC_BASE_BID))
        .repartition("cell")
        .write.partitionBy("cell", "bid")
        .mode("overwrite")
        .parquet(resolve_dir(index_path))
    )


VEC_JSON_SCHEMA = "vec_id bigint, embedding array<double>"


def vectors_from_envelope(df: DataFrame) -> DataFrame:
    """Kafka-source-shaped rows (``value`` = one JSON embedding record) →
    the (vec_id, embedding) stream this front door consumes — the
    embedding-side twin of shard_ingest.docs_from_envelope, so all three
    ingest doors (lexical docs, LSH docs, vectors) have a Kafka face.
    Malformed payloads drop as dead letters (NULL vec_id)."""
    return (
        df.select(
            F.from_json(F.col("value").cast("string"), VEC_JSON_SCHEMA).alias("v")
        )
        .select("v.*")
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
    )


def ingest_vector_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    decisions_path: str,
    cents,
    tau: float = _SEM_TAU,
    compact_files_threshold: int | None = None,
) -> None:
    """One micro-batch of the vector front door (the foreachBatch body of
    ``ingest_vector_stream``): assign cells, decide admissions against
    the standing index, append the admitted slice as segment
    ``batch_id``, publish the decisions, and run the maybe_compact hook
    when a threshold is set."""
    from ..plans.index_maintenance import maybe_compact

    if batch_df.isEmpty():
        return
    # per-batch materializations must not accumulate over the stream's
    # lifetime (the q42 checkpoint-hygiene rule applied here)
    with materialize_scope(batch_df.sparkSession.sparkContext) as held:
        assigned = materialize(assign_cells(batch_df, cents))
        held.append(assigned)
        # own-segment exclusion + segment overwrite = idempotent retry
        # with byte-identical decisions (see module docstring)
        decisions = materialize(
            _admit_assigned(assigned, index_path, tau, exclude_bid=batch_id)
        )
        held.append(decisions)
        _append_assigned(assigned, decisions.filter("admit"), index_path, batch_id)
        (
            decisions.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(decisions_path)
        )
        if compact_files_threshold is not None:
            maybe_compact(
                batch_df.sparkSession, index_path, "vector",
                max_files_per_dir=compact_files_threshold,
                protect_bid=batch_id,
            )


def ingest_vector_stream(
    vecs_stream: DataFrame,
    index_path: str,
    decisions_path: str,
    checkpoint_dir: str,
    cents=None,
    tau: float = _SEM_TAU,
    trigger_interval: str = "200 milliseconds",
    compact_files_threshold: int | None = None,
):
    """Start the streaming front door over the vector index.  ``cents``
    defaults to the sf0.01 codebook snapshot (`_codebook`); production
    passes the codebook fit for the corpus the index serves.  Returns the
    StreamingQuery.  ``compact_files_threshold`` enables the in-stream
    maybe_compact hook (see ingest_shard_stream)."""
    if cents is None:
        cents = _codebook("")[0]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_vector_batch(
            batch_df, batch_id, index_path, decisions_path, cents, tau,
            compact_files_threshold,
        )

    return (
        vecs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger_interval)
        .start()
    )
