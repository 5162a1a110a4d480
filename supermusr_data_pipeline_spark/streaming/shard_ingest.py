"""Index-backed streaming shard ingestion: the admission gate (q94) as a
continuous front door over the persisted LSH index (q82).

Each micro-batch of arriving documents is checked against the STANDING
index — not against recomputed history: batch signatures are a narrow
map over the batch only, candidates come from the index's band-bucket
parquet, and verified near-dups (of the base, or of an earlier peer in
the same batch) are dropped.  Admitted documents are APPENDED to the
index inside the same foreachBatch transaction, so the NEXT micro-batch
deduplicates against them — cross-batch dedup emerges from index growth,
with no unbounded stream state at all (the index IS the state, on disk,
shared with every batch consumer).

This composes the round's incremental pieces into the shape a production
ingest actually runs: near_dup_stream answers "which pairs arrived close
together" with watermarked in-memory state; THIS path answers "may this
document enter the corpus" against the full standing index.

Failure semantics: foreachBatch may re-run a batch after a crash, so the
append must be idempotent — and it is the APPEND itself that is
idempotent, not a marker protocol around it: each micro-batch's admitted
rows land as their own ``bid=<batch_id>`` segment partitions (the
``tokens/bid=<batch_id>/`` directory and one leaf inside each band_no
bucket) via dynamic partition overwrite, so a re-run REPLACES its
segment wholesale.  The decision recompute excludes
exactly its own segment (``bid != batch_id`` — a partition filter), so
it sees the index as the first attempt did and recomputes byte-identical
decisions; a crash between the tokens and bands writes just leaves a
half-segment the retry overwrites.  Decisions land in a
`batch_id`-partitioned parquet with the same overwrite discipline.  An
at-least-once SOURCE is also handled: a doc_id redelivered in a LATER
batch is found in an EARLIER segment of the standing index and
short-circuits to `already_ingested` / admit=false instead of appending
a duplicate index row.  Non-streaming writers use reserved NEGATIVE
segment ids (plans/incremental.py: bid=-1 bulk build, bid=-2 bulk
append, compaction folds to bid=-1), so a streaming query's overwrite
can never clobber them; one streaming writer per index at a time (the
repo-wide single-maintainer rule — batch ids are scoped to the query's
checkpoint).

Scale shape per batch: one narrow signature pass over the batch, one
equi-join against bucket-truncated index bands (cap mirrors
_LSH_BUCKET_CAP — a boilerplate bucket's representative is always inside
the truncation, so template families still block admission), one
batch-internal self-join bounded the same way, and an append of the
admitted slice.  Every verification-token file is sorted by its stored
``tb`` = hash(doc_id) % 256 column, so both token probes (candidate
verification + redelivery presence) carry a literal ``tb IN (...)``
filter pushed into the Parquet scan, which skips row groups and pages
whose min/max statistics miss the touched buckets.  Nothing scans the
base corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import materialize, materialize_scope
from ..plans.incremental import _tok_bucket, read_index_artifact, write_segment
from ..plans.text_dedup import (
    _LSH_BUCKET_CAP,
    _TOKENS_EXPR_SPARK,
    _TOKHASH_SPARK,
    _banded,
    _minhash_cols_spark,
)

_JACCARD = 0.5


def _batch_artifacts(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(tokens, bands) for an arbitrary docs frame — the q82 index recipe
    applied to a micro-batch (no sf_dir, no event-time column needed)."""
    th = F.expr(
        "transform(array_distinct({toks}), t -> {h})".format(
            toks=_TOKENS_EXPR_SPARK, h=_TOKHASH_SPARK.format(t="t")
        )
    )
    base = docs.withColumn("th", th).filter(F.size("th") > 0)
    tokens = base.select("doc_id", "th")
    bands = _banded(base.select("doc_id", *_minhash_cols_spark()))
    return tokens, bands


def admit_batch(
    batch_docs: DataFrame,
    index_path: str,
    bucket_cap: int = _LSH_BUCKET_CAP,
    exclude_bid: int | None = None,
    held: list | None = None,
) -> DataFrame:
    """Admission decisions for one micro-batch against the standing index:
    (doc_id, already_ingested, dups_base, dups_earlier_peer, admit,
    reason) — q94's output contract, computed from the persisted
    artifacts.

    ``exclude_bid`` is the crash-retry knob: the streaming door always
    passes its own batch_id, so rows a crashed first attempt already
    appended (they live in the ``bid=<batch_id>`` segment partitions) are
    excluded from the index side — BEFORE the bucket cap, so truncation
    picks the same survivors — which makes the recompute byte-identical
    to the original decisions.  It is a partition filter: on a first run
    the segment doesn't exist and the filter prunes nothing.  Everything
    else found in the index under a batch doc_id was ingested by an
    EARLIER batch (an at-least-once source redelivering), and
    short-circuits to ``already_ingested`` / admit=false instead of
    re-admitting a duplicate index row.

    ``held``, when given, receives the intermediate frames this call
    materializes, for the caller to ``unpersist()`` once the decisions
    are no longer read."""
    spark = batch_docs.sparkSession
    tokens, bands = _batch_artifacts(batch_docs)
    batch_ids = batch_docs.select("doc_id").distinct()
    # resolved through the _CURRENT pointer: after a compaction the live
    # data lives in a hidden version subdir (plans/index_maintenance.py)
    idx_bands = read_index_artifact(spark, index_path, "bands")
    idx_tokens_all = read_index_artifact(spark, index_path, "tokens")
    if exclude_bid is not None:
        # own-segment exclusion — a literal partition filter on bid
        idx_bands = idx_bands.filter(F.col("bid") != int(exclude_bid))
        idx_tokens_all = idx_tokens_all.filter(F.col("bid") != int(exclude_bid))
    idx_bands = idx_bands.select("doc_id", "band_no", "key")
    # the tokens files are sorted by their stored tb=hash(doc_id) column
    # (write_lsh_index): every read below carries a LITERAL bucket filter
    # derived from the doc_ids it actually needs, pushed into the scan, so
    # verification never reads the whole corpus's token sets — only the
    # row groups and pages whose tb statistics hold a touched bucket
    idx_tokens_all = idx_tokens_all.select("doc_id", "th", "tb")

    def _pruned_tokens(ids_df, id_col: str):
        buckets = [
            r.b
            for r in ids_df.select(
                _tok_bucket(F.col(id_col)).alias("b")
            ).distinct().collect()
        ]
        if not buckets:
            return idx_tokens_all.filter(F.lit(False))
        return idx_tokens_all.filter(F.col("tb").isin(buckets))

    # redelivery short-circuit: batch ids already in the (own-segment-
    # excluded) index were admitted by an earlier batch — presence probes
    # only the BATCH ids' buckets, index side stays left vs the broadcast
    already = (
        _pruned_tokens(batch_ids, "doc_id")
        .select("doc_id")
        .join(F.broadcast(batch_ids), "doc_id", "leftsemi")
        .distinct()
        .withColumn("already_ingested", F.lit(True))
    )
    # bucket truncation: the stop-bucket guard; min-doc_id members survive,
    # so a template bucket's representative always remains checkable
    rk = F.row_number().over(
        Window.partitionBy("band_no", "key").orderBy("doc_id")
    )
    idx_capped = idx_bands.withColumn("rk", rk).filter(F.col("rk") <= bucket_cap)

    # materialize the (bounded: <= batch x bands x cap rows) candidate
    # pairs once — their old_ids' buckets become the literal tb filter
    # for the verification-token probe below
    cand_base = materialize(
        bands.alias("n")
        .join(
            idx_capped.alias("i"),
            (F.col("n.band_no") == F.col("i.band_no"))
            & (F.col("n.key") == F.col("i.key")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"), F.col("i.doc_id").alias("old_id")
        )
        .distinct()
    )
    if held is not None:
        held.append(cand_base)
    old_tokens = _pruned_tokens(cand_base, "old_id")
    verified_base = (
        cand_base.join(tokens.select(F.col("doc_id").alias("new_id"),
                                     F.col("th").alias("tha")), "new_id")
        .join(old_tokens.select(F.col("doc_id").alias("old_id"),
                                F.col("th").alias("thb")), "old_id")
        .withColumn("inter", F.size(F.array_intersect("tha", "thb")))
        .withColumn(
            "jac",
            F.col("inter").cast("double")
            / (F.size("tha") + F.size("thb") - F.col("inter")),
        )
        .filter(F.col("jac") >= _JACCARD)
        .select("new_id")
        .distinct()
        .withColumn("dups_base", F.lit(True))
    )

    batch_rk = F.row_number().over(
        Window.partitionBy("band_no", "key").orderBy("doc_id")
    )
    bands_capped = bands.withColumn("rk", batch_rk).filter(F.col("rk") <= bucket_cap)
    cand_peer = (
        bands_capped.alias("a")
        .join(
            bands_capped.alias("b"),
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("first_id"), F.col("b.doc_id").alias("new_id"))
        .distinct()
    )
    verified_peer = (
        cand_peer.join(tokens.select(F.col("doc_id").alias("first_id"),
                                     F.col("th").alias("tha")), "first_id")
        .join(tokens.select(F.col("doc_id").alias("new_id"),
                            F.col("th").alias("thb")), "new_id")
        .withColumn("inter", F.size(F.array_intersect("tha", "thb")))
        .withColumn(
            "jac",
            F.col("inter").cast("double")
            / (F.size("tha") + F.size("thb") - F.col("inter")),
        )
        .filter(F.col("jac") >= _JACCARD)
        .select("new_id")
        .distinct()
        .withColumn("dups_earlier_peer", F.lit(True)))

    shard = batch_docs.select("doc_id")
    out = (
        shard.join(F.broadcast(already), "doc_id", "left")
        .join(
            F.broadcast(verified_base.withColumnRenamed("new_id", "doc_id")),
            "doc_id", "left",
        )
        .join(
            F.broadcast(verified_peer.withColumnRenamed("new_id", "doc_id")),
            "doc_id", "left",
        )
        .select(
            "doc_id",
            F.coalesce("already_ingested", F.lit(False)).alias("already_ingested"),
            F.coalesce("dups_base", F.lit(False)).alias("dups_base"),
            F.coalesce("dups_earlier_peer", F.lit(False)).alias("dups_earlier_peer"),
        )
    )
    return out.select(
        "doc_id",
        "already_ingested",
        "dups_base",
        "dups_earlier_peer",
        (
            ~F.col("already_ingested")
            & ~F.col("dups_base")
            & ~F.col("dups_earlier_peer")
        ).alias("admit"),
        F.when(F.col("already_ingested"), "already_ingested")
        .when(F.col("dups_base"), "near_dup_of_base")
        .when(F.col("dups_earlier_peer"), "near_dup_of_earlier_peer")
        .otherwise("admitted")
        .alias("reason"),
    )


def _append_admitted(
    batch_docs: DataFrame, admitted: DataFrame, index_path: str, bid: int
) -> None:
    """Append the admitted slice as the ``bid`` segment.  Dynamic
    partition overwrite makes a crash-retry replace its own
    ``tokens/bid=<bid>/`` and ``bands/band_no=*/bid=<bid>/`` leaf
    directories instead of appending duplicates — the append IS the
    idempotency mechanism."""
    tokens, bands = _batch_artifacts(
        batch_docs.join(admitted.select("doc_id"), "doc_id")
    )
    write_segment(tokens, bands, index_path, int(bid), "overwrite", dynamic=True)


DOC_JSON_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def docs_from_envelope(df: DataFrame) -> DataFrame:
    """Kafka-source-shaped rows (``value`` = one JSON document) → the
    documents stream every ingest front door consumes.  This is the
    text-pipeline's Kafka front: `spark.readStream.format("kafka-wire")`
    (or the JVM kafka source — same columns) piped here feeds
    `ingest_shard_stream` / vector / postings ingestion directly.
    Malformed payloads surface as NULL doc_id rows (from_json's
    PERMISSIVE mode) and are dropped — the dead-letter filter a
    production door needs anyway."""
    return (
        df.select(
            F.from_json(F.col("value").cast("string"), DOC_JSON_SCHEMA).alias("d")
        )
        .select("d.*")
        .filter(F.col("doc_id").isNotNull())
    )


def ingest_shard_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    decisions_path: str,
    bucket_cap: int = _LSH_BUCKET_CAP,
    compact_files_threshold: int | None = None,
) -> None:
    """One micro-batch of the streaming front door (the foreachBatch body
    of ``ingest_shard_stream``): decide admissions against the standing
    index, append the admitted slice as segment ``batch_id``, publish the
    decisions, and run the maybe_compact hook when a threshold is set."""
    from ..plans.index_maintenance import maybe_compact

    if batch_df.isEmpty():
        return
    # per-batch materializations must not accumulate over the stream's
    # lifetime (the q42 checkpoint-hygiene rule)
    with materialize_scope(batch_df.sparkSession.sparkContext) as held:
        # own-segment exclusion (bid != batch_id) makes the recompute
        # on a crash-retry byte-identical to the first attempt, and the
        # segment overwrite below makes the re-append replace rather
        # than duplicate — no marker files, no ordering window
        decisions = materialize(
            admit_batch(
                batch_df, index_path, bucket_cap, exclude_bid=batch_id, held=held
            )
        )
        held.append(decisions)
        # append BEFORE publishing decisions: a batch's decisions must not
        # become visible until the index reflects its admissions (a
        # stop/crash between the two steps re-runs both; both writes are
        # partition-overwrite idempotent)
        _append_admitted(batch_df, decisions.filter("admit"), index_path, batch_id)
        (
            decisions.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(decisions_path)
        )
        if compact_files_threshold is not None:
            maybe_compact(
                batch_df.sparkSession, index_path, "lsh",
                max_files_per_dir=compact_files_threshold,
                protect_bid=batch_id,
            )


def ingest_shard_stream(
    docs_stream: DataFrame,
    index_path: str,
    decisions_path: str,
    checkpoint_dir: str,
    bucket_cap: int = _LSH_BUCKET_CAP,
    trigger_interval: str = "200 milliseconds",
    compact_files_threshold: int | None = None,
):
    """Start the streaming front door: per micro-batch, decide admissions
    against the standing index, write decisions (partitioned by batch_id,
    re-run-safe), and append the admitted slice so later batches dedup
    against it (``ingest_shard_batch``).  Returns the StreamingQuery.

    ``compact_files_threshold`` makes compaction part of the ingest
    contract: after each batch commits its writes, the maybe_compact
    policy hook folds the accumulated segments once any index bucket
    exceeds that many files (plans/index_maintenance._max_files_per_dir)
    — protecting the just-written batch's segment so a crash-replay
    keeps its own-segment exclusion (plans/index_maintenance.maybe_compact).
    None (default) leaves compaction to a standalone maintenance job."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_shard_batch(
            batch_df, batch_id, index_path, decisions_path, bucket_cap,
            compact_files_threshold,
        )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger_interval)
        .start()
    )
