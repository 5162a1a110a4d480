"""Streaming lexical-index ingestion: segment-based postings appends —
the third index-backed front door (text twin of shard_ingest's LSH and
vector_ingest's IVF doors), so BM25 probes see newly ingested documents
without a rebuild.

Layout under one root (Lucene's segment idea expressed as partitioned
parquet):

- ``postings/batch=<id>/tb=<hash(term) % 64>/``: (term, doc_id, tf, dl)
  — each micro-batch is its own SEGMENT partition, term-hash-bucketed
  exactly like the q114 physical index so a probe prunes to its terms'
  buckets across every segment; ``dl`` is the document length
  denormalized onto every posting row (+8 bytes/posting) so BM25 probes
  never join the corpus-sized doclen artifact;
- ``doclen/batch=<id>/db=<hash(doc_id) % 64>/``: (doc_id, dl) —
  doc-id-bucketed; serves ONLY the redelivery presence guard, which
  prunes to the batch's buckets;
- ``stats/batch=<id>/``: one (n_docs, sum_dl) delta row per segment —
  an append-only ledger; a probe's corpus stats are the ledger sum
  (rows = segments, compactable by plans/index_maintenance).

Failure semantics: the ``batch=<id>`` partition IS the idempotency
unit — every write uses dynamic partition overwrite of the batch's own
partition, so a crash-retry REPLACES its segment instead of duplicating
rows (no marker files needed).  An at-least-once source redelivering a
doc_id in a LATER batch is dropped by the doclen presence guard (pruned
probe of the doc's bucket across earlier segments), so a document's
postings enter the index exactly once.

Query planning without a global vocabulary: a probe computes df for ITS
terms only, from the terms' pruned buckets — no maintained df artifact
to go stale.  (The batch q114 index keeps a terms artifact because it
is rebuilt atomically; a streaming index would need df maintenance per
batch, which this design makes unnecessary.)

Scale shape per batch: one tokenize + two keyed aggregations over the
batch only, one pruned presence probe, three partition-scoped writes.
Nothing scans the standing index beyond the touched buckets.

Reference: LLM-extension scope (no reference-repo analog); segmented
inverted indexing per the public Lucene/Elasticsearch design — original
implementation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.index_maintenance import resolve_dir
from ..plans.retrieval import (
    _BM25_B, _BM25_K1, _N_TERM_BUCKETS, read_postings_artifact,
)
from ..plans.text_dedup import _TOKENS_EXPR_SPARK

_N_DOC_BUCKETS = 64

# the segment index's stored schemas (read_postings_artifact names them,
# so no read runs a schema-inference job)
_SEGMENT_SCHEMAS = {
    "postings": "doc_id bigint, term string, tf bigint, dl bigint, "
                "batch int, tb int",
    "doclen": "doc_id bigint, dl bigint, batch int, db int",
    "stats": "n_docs bigint, sum_dl bigint, batch int",
}


def _term_bucket(col):
    return F.pmod(F.hash(col), F.lit(_N_TERM_BUCKETS)).cast("int")


def _doc_bucket(col):
    return F.pmod(F.xxhash64(col.cast("long")), F.lit(_N_DOC_BUCKETS)).cast("int")


def _batch_postings(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, doclen) for one batch.  Postings carry the document's
    ``dl`` DENORMALIZED onto every row (+8 bytes/posting): a doc's
    postings and its length come from the same batch, so consistency is
    free at write time, and BM25 probes score from the pruned postings
    alone instead of shuffle-joining the corpus-sized doclen artifact
    (VERDICT r7 #5 — the read-optimized trade, norms-with-postings).
    The separate doclen artifact remains as the redelivery presence
    guard (doc-bucket-pruned probes)."""
    tok = docs.select("doc_id", F.explode(F.expr(_TOKENS_EXPR_SPARK)).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(dl, "doc_id")
    )
    return tf, dl


def _overwrite_batch_partition(df: DataFrame, batch_id: int, path: str, sub_key: str | None) -> None:
    w = (
        df.withColumn("batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
    )
    cols = ["batch"] + ([sub_key] if sub_key else [])
    w.partitionBy(*cols).parquet(resolve_dir(path))


def ingest_doc_batch(batch_df: DataFrame, index_path: str, batch_id: int) -> int:
    """Index one micro-batch; returns the number of NEW docs indexed
    (redelivered doc_ids are dropped).  Idempotent per batch_id.

    batch_id is the segment's identity AND its overwrite unit, so ids
    must never collide across writers: a streaming query assigns its own
    ids from 0 upward (Structured Streaming batch ids), therefore BULK
    loads (an initial corpus segment) and maintenance jobs must use
    NEGATIVE ids (compaction writes batch=-1; use -2, -3, ... for bulk
    segments).  A clash would dynamic-overwrite the other segment's
    partitions for the buckets this batch touches."""
    spark = batch_df.sparkSession
    doclen_path = os.path.join(index_path, "doclen")
    batch_ids = batch_df.select("doc_id").distinct()
    fresh = batch_df
    if os.path.isdir(doclen_path):
        buckets = [
            r.b for r in batch_ids.select(_doc_bucket(F.col("doc_id")).alias("b"))
            .distinct().collect()
        ]
        seen = (
            read_postings_artifact(spark, index_path, "doclen", _SEGMENT_SCHEMAS)
            .filter(F.col("db").isin(buckets))
            # a crash-retry's own segment must not count as "seen" — it is
            # about to be overwritten wholesale
            .filter(F.col("batch") != int(batch_id))
            .select("doc_id")
        )
        fresh = batch_df.join(F.broadcast(seen), "doc_id", "left_anti")
    tf, dl = _batch_postings(fresh)
    n_new = dl.count()
    _overwrite_batch_partition(
        tf.withColumn("tb", _term_bucket(F.col("term"))).repartition("tb"),
        batch_id, os.path.join(index_path, "postings"), "tb",
    )
    _overwrite_batch_partition(
        dl.withColumn("db", _doc_bucket(F.col("doc_id"))).repartition("db"),
        batch_id, doclen_path, "db",
    )
    stats_delta = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).coalesce(1)
    _overwrite_batch_partition(
        stats_delta, batch_id, os.path.join(index_path, "stats"), None
    )
    return int(n_new)


def ingest_postings_stream(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    trigger_interval: str = "200 milliseconds",
    compact_files_threshold: int | None = None,
):
    """Start the streaming lexical front door.  Returns the
    StreamingQuery.  ``compact_files_threshold`` enables the in-stream
    maybe_compact hook (segments fold to batch=-1 once a bucket
    directory exceeds that many files; the just-written batch's segment
    is protected — see plans/index_maintenance.maybe_compact)."""

    from ..plans.index_maintenance import maybe_compact

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest_doc_batch(batch_df, index_path, batch_id)
        if compact_files_threshold is not None:
            maybe_compact(
                batch_df.sparkSession, index_path, "postings",
                max_files_per_dir=compact_files_threshold,
                protect_bid=batch_id,
            )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger_interval)
        .start()
    )


def bm25_topk_over_index(
    spark: SparkSession,
    index_path: str,
    query_terms: list[str],
    topk: int = 10,
    k1: float = _BM25_K1,
    b: float = _BM25_B,
) -> DataFrame:
    """BM25 top-k for explicit query terms against the segmented index:
    postings scan pruned to the terms' buckets across ALL segments, df
    computed per-query from those pruned buckets (no global vocabulary
    artifact), corpus stats from the segment ledger sum.  Identical
    scoring formula to q112 (scores rounded to 6 before ranking)."""
    buckets = sorted(
        {
            r.b
            for r in spark.createDataFrame(
                [(t,) for t in query_terms], "term string"
            ).select(_term_bucket(F.col("term")).alias("b")).collect()
        }
    )
    postings = (
        read_postings_artifact(spark, index_path, "postings", _SEGMENT_SCHEMAS)
        .filter(F.col("tb").isin(buckets))
        .select("term", "doc_id", "tf", "dl")
    )
    qterms = spark.createDataFrame([(t,) for t in query_terms], "query_term string")
    dfr = (
        postings.join(F.broadcast(qterms), postings.term == F.col("query_term"), "leftsemi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    stats = read_postings_artifact(
        spark, index_path, "stats", _SEGMENT_SCHEMAS
    ).agg(
        F.sum("n_docs").alias("n"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
    )
    # no doclen join: dl rides on every posting row (write-side denorm),
    # so the probe touches ONLY the terms' pruned postings buckets plus
    # the one-row stats aggregate — nothing corpus-sized
    idf = F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    norm = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    scored = (
        F.broadcast(qterms)
        .join(postings, postings.term == F.col("query_term"))
        .join(F.broadcast(dfr), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_term",
            "doc_id",
            F.round(idf * (F.col("tf") * (k1 + 1)) / norm, 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_term").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select("query_term", "doc_id", "score", "rank")
    )
