"""Text retrieval over the documents table: BM25 top-k (q112) and
positional phrase search (q113).

A training-data pipeline is also a retrieval system: decontamination
lookups, targeted curation ("pull everything about X"), and eval-set
mining all run lexical retrieval over the corpus.  Both operators here
are the classic inverted-index computations expressed relationally —
the index IS a grouped table, the queries are broadcast dimensions, and
the scoring is one partitioned window.

Scale shape (both): one explode + keyed aggregation builds the postings
(the same shuffle the corpus tokenization already pays), query terms are
a tiny broadcast side, so scoring touches only the matching postings;
the per-query top-k is a window partitioned by query.  At 100 TB the
postings table is the persisted artifact (term-bucketed parquet) and
these queries are probes against it — the q64/q82 physical-index pattern
applies unchanged.

Determinism: query terms/phrases are derived FROM the corpus (document
frequency / bigram count with lexicographic tie-breaks), not hardcoded,
so the operators exercise real selectivity at every scale factor and the
DuckDB oracles reproduce them exactly.

Reference: LLM-extension scope (no reference-repo analog).  BM25 per
Robertson-Walker-Jones (TREC-3, 1994) — public method, original
implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.testdata import load_table
from .relational import ORACLES, _register
from .text_dedup import (
    _TOKENS_EXPR_SPARK,
    _TOKENS_SQL_DUCK,
    embedding_table,
    term_freqs,
)

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_N_QUERIES = 5   # query terms: the corpus's rarest terms (most selective)
_BM25_TOPK = 10

_RRF_K = 60           # reciprocal-rank-fusion constant (Cormack et al. 2009)
_HY_N_QUERIES = 3     # hybrid search: query DOCUMENTS (lowest ids w/ both legs)
_HY_TERMS = 10        # rarest terms taken from each query doc (selectivity)
_HY_LEG_K = 20        # per-leg candidate depth fed into the fusion
_HY_TOPK = 10         # fused results per query


@_register(
    "q112_bm25_topk",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKENS_SQL_DUCK}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT (SELECT count(*) FROM documents) AS n,
               (SELECT avg(dl) FROM dl) AS avgdl
    ), df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), qterms AS (
        SELECT term, df FROM (
            SELECT term, df,
                   row_number() OVER (ORDER BY df ASC, term) AS r
            FROM df
        ) WHERE r <= {_BM25_N_QUERIES}
    ), scored AS (
        SELECT q.term AS query_term, t.doc_id,
               round(
                 ln(1 + (s.n - q.df + 0.5) / (q.df + 0.5))
                 * (t.tf * ({_BM25_K1} + 1))
                 / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                                         + {_BM25_B} * d.dl / s.avgdl)),
                 6) AS score
        FROM qterms q
        JOIN tf t ON t.term = q.term
        JOIN dl d ON d.doc_id = t.doc_id
        CROSS JOIN stats s
    )
    SELECT query_term, doc_id, score, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_term
                                     ORDER BY score DESC, doc_id) AS rank
        FROM scored
    ) WHERE rank <= {_BM25_TOPK}
    """,
)
def q112_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query term (k1=1.2, b=0.75 — the _BM25_* module
    constants).  Query terms are the 5 RAREST terms (lowest document
    frequency, lexicographic tie-break) — deterministic, corpus-derived,
    and maximally selective at every scale; real retrieval cost is always
    dominated by the rare-term postings a query actually probes.

    Scale shape: postings (doc_id, term, tf) and doc lengths are one
    explode + two keyed aggregations; N/avgdl is a broadcast scalar;
    query terms are a broadcast 5-row dimension (built as TakeOrdered +
    post-limit rank, never a global sort); scoring touches only the query
    terms' postings and the per-query top-k is a window partitioned by
    query_term."""
    docs = load_table(spark, sf_dir, "documents")
    # every corpus statistic (dl = Σ tf per doc, df = postings length per
    # term, the scoring probe itself) derives from the session-shared
    # (doc_id, term, tf) table: one tokenize+explode+aggregate pass per
    # session, shared with q116/q117 and the postings index build, instead
    # of four planted subtrees left to AQE exchange reuse (VERDICT r14 #5:
    # 18 jobs / 50 stages measured; guide §1.2)
    tf = term_freqs(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = docs.select(F.count(F.lit(1)).alias("n")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # rarest terms: TakeOrdered (per-partition bottom-k + k-row merge),
    # never a global sort
    qterms = df.orderBy(F.asc("df"), "term").limit(_BM25_N_QUERIES)
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        F.broadcast(qterms.withColumnRenamed("term", "query_term"))
        .join(tf, tf.term == F.col("query_term"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_term",
            "doc_id",
            F.round(idf * (F.col("tf") * (_BM25_K1 + 1)) / norm, 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_term").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select("query_term", "doc_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# q113 — positional phrase search (exact adjacent-token phrase)
# ---------------------------------------------------------------------------


@_register(
    "q113_phrase_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, toks[i] AS term, CAST(i AS BIGINT) AS pos
        FROM (SELECT doc_id, {_TOKENS_SQL_DUCK} AS toks FROM documents),
             unnest(generate_series(1, len(toks))) AS g(i)
    ), bigrams AS (
        SELECT a.term AS t1, b.term AS t2, count(*) AS n
        FROM tok a JOIN tok b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        GROUP BY a.term, b.term
    ), phrase AS (
        SELECT t1, t2 FROM bigrams
        ORDER BY n DESC, t1, t2 LIMIT 1
    ), hits AS (
        SELECT a.doc_id, a.pos
        FROM phrase p
        JOIN tok a ON a.term = p.t1
        JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                   AND b.term = p.t2
    )
    SELECT h.doc_id,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(h.pos) AS BIGINT) AS first_pos,
           any_value(p.t1 || ' ' || p.t2) AS phrase
    FROM hits h CROSS JOIN phrase p
    GROUP BY h.doc_id
    """,
)
def q113_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional index: find every document
    containing the corpus's most frequent bigram as ADJACENT tokens, with
    occurrence count and first position — the primitive under n-gram
    decontamination lookups and quote mining.  The phrase is derived from
    the corpus (top bigram, lexicographic tie-break), so both engines
    search for the same string at every scale.

    Scale shape: the positional postings are one explode with ordinality;
    the phrase is a 1-row broadcast; matching joins ONLY the two phrase
    terms' postings on (doc_id, adjacent position) — at 100 TB this is a
    probe of a term-bucketed postings artifact, never a corpus scan of
    anything but the tokenize pass it shares with q112."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.expr(_TOKENS_EXPR_SPARK)).alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).cast("long").alias("pos"))
    # top bigram via the adjacent-pair struct explode (q62's shape)
    pairs = (
        docs.select(F.expr(_TOKENS_EXPR_SPARK).alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> "
                    "named_struct('t1', toks[i - 1], 't2', toks[i]))"
                )
            ).alias("p")
        )
        .groupBy("p.t1", "p.t2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    phrase = pairs.orderBy(F.desc("n"), "t1", "t2").limit(1).select("t1", "t2")
    left = tok.join(F.broadcast(phrase), tok.term == F.col("t1")).select(
        F.col("doc_id"), F.col("pos"), "t1", "t2"
    )
    right = tok.select(
        F.col("doc_id").alias("r_doc"),
        F.col("pos").alias("r_pos"),
        F.col("term").alias("r_term"),
    )
    hits = left.join(
        right,
        (F.col("r_doc") == F.col("doc_id"))
        & (F.col("r_pos") == F.col("pos") + 1)
        & (F.col("r_term") == F.col("t2")),
    ).select("doc_id", "pos", "t1", "t2")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.min("pos").cast("bigint").alias("first_pos"),
        F.any_value(F.concat_ws(" ", "t1", "t2")).alias("phrase"),
    )


# ---------------------------------------------------------------------------
# q114 — BM25 through a physical postings index (term-hash-bucketed parquet)
# ---------------------------------------------------------------------------
#
# The q64/q82/q96 pattern applied to lexical retrieval: the postings list
# IS the persisted artifact, laid out so a query reads only its terms'
# buckets.  Directories are `tb=<hash(term) % _N_TERM_BUCKETS>` — a FIXED
# fan-out (millions of `term=` directories would be the wrong layout at
# web scale; a bounded hash-bucket alphabet is the standard inverted-index
# sharding).  A probe computes its terms' buckets driver-side (a handful
# of ints — the literal PartitionFilters pattern), scans only those
# directories, and broadcast-joins the tiny query-term dimension to drop
# hash collisions.  Registered with q112's oracle: the physical layout
# must not move a single value.

import os as _os
import tempfile as _tempfile

_N_TERM_BUCKETS = 64
_POSTINGS_BUILT: dict = {}

# the postings index's stored schemas, partition columns last: a read that
# names them skips the one-task schema-inference job every parquet read
# otherwise runs (incremental.read_index_artifact's rule)
_POSTINGS_SCHEMAS = {
    "terms": "term string, df bigint, tb int",
    "postings": "doc_id bigint, term string, tf bigint, tb int",
    "doclen": "doc_id bigint, dl bigint",
    "stats": "n bigint, avgdl double",
}


def read_postings_artifact(
    spark: SparkSession, index_path: str, artifact: str,
    schemas: dict = _POSTINGS_SCHEMAS,
) -> DataFrame:
    """Scan ``artifact`` of a postings index at ``index_path`` (resolved
    through its _CURRENT pointer when it has one) with its stored schema
    from ``schemas`` — q114's index by default; the streaming segment
    index (streaming/postings_ingest.py) passes its own."""
    from .index_maintenance import resolve_dir

    return spark.read.schema(schemas[artifact]).parquet(
        resolve_dir(_os.path.join(index_path, artifact))
    )


def postings_index_path(sf_dir: str, app_id: str = "") -> str:
    """Where the postings artifact lives.  The path is keyed by BOTH the
    scale factor and the Spark applicationId: two concurrent sessions on
    the same sf (e.g. a bench alongside a test run) must not race each
    other's mode('overwrite') writes into one shared directory."""
    base = _os.path.basename(_os.path.normpath(sf_dir))
    suffix = f"_{app_id}" if app_id else ""
    return _os.path.join(
        _tempfile.gettempdir(), f"supermusr_postings_{base}{suffix}.parquet"
    )


def write_postings_index(spark: SparkSession, sf_dir: str, out: str) -> None:
    """One tokenize pass -> three artifacts: term-bucketed postings
    (term, doc_id, tf), the vocabulary with document frequencies (for
    query planning: rarest-term selection runs on THIS, never the
    corpus), and doc lengths + corpus stats for the BM25 norm."""
    docs = load_table(spark, sf_dir, "documents")
    # every artifact derives from the session-shared tf table (doc length =
    # sum of a doc's term frequencies, identically count of its token rows)
    tf = term_freqs(spark, sf_dir)
    tb = F.pmod(F.hash("term"), F.lit(_N_TERM_BUCKETS)).alias("tb")
    (
        tf.withColumn("tb", tb)
        .repartition("tb")
        .write.partitionBy("tb")
        .mode("overwrite")
        .parquet(_os.path.join(out, "postings"))
    )
    (
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .withColumn("tb", tb)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_os.path.join(out, "terms"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dl.write.mode("overwrite").parquet(_os.path.join(out, "doclen"))
    (
        docs.select(F.count(F.lit(1)).alias("n"))
        .crossJoin(
            read_postings_artifact(spark, out, "doclen")
            .agg(F.avg("dl").alias("avgdl"))
        )
        .write.mode("overwrite")
        .parquet(_os.path.join(out, "stats"))
    )


@_register("q114_bm25_indexed", oracle=ORACLES["q112_bm25_topk"])
def q114_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q112 through the physical postings index: query terms come from the
    vocabulary artifact (rarest-df, same rule), their hash buckets become
    a literal partition filter on the postings directories, and scoring
    touches only the probed buckets + the doc-length and stats artifacts.
    Registered with q112's oracle — layout must not move a value."""
    path = postings_index_path(sf_dir, spark.sparkContext.applicationId)
    key = (spark.sparkContext.applicationId, sf_dir)
    if not _POSTINGS_BUILT.get(key):
        write_postings_index(spark, sf_dir, path)
        _POSTINGS_BUILT[key] = True

    terms = read_postings_artifact(spark, path, "terms")
    qrows = (
        terms.orderBy(F.asc("df"), "term").limit(_BM25_N_QUERIES).collect()
    )
    buckets = sorted({int(r.tb) for r in qrows})
    # build the 5-row query dimension as a JVM literal: createDataFrame
    # from a Python list parallelizes into defaultParallelism pickled
    # slices, whose scan is a Python-worker stage (measured 32 tasks /
    # 17 s of worker wait for 5 rows) — an exploded array literal is
    # pure JVM and partition-free
    qterms = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r.term).alias("query_term"),
                        F.lit(int(r.df)).cast("bigint").alias("df"),
                    )
                    for r in qrows
                ]
            )
        ).alias("q")
    ).select("q.query_term", "q.df")
    postings = (
        read_postings_artifact(spark, path, "postings")
        .filter(F.col("tb").isin(buckets))
        .select("term", "doc_id", "tf")
    )
    dl = read_postings_artifact(spark, path, "doclen")
    stats = read_postings_artifact(spark, path, "stats")
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        F.broadcast(qterms)
        .join(postings, postings.term == F.col("query_term"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_term",
            "doc_id",
            F.round(idf * (F.col("tf") * (_BM25_K1 + 1)) / norm, 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_term").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select("query_term", "doc_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# q116 — hybrid retrieval: BM25 lexical leg + cosine vector leg, fused by
# reciprocal-rank fusion (RRF, Cormack/Clarke/Buettcher SIGIR 2009 — public
# method, original implementation).
# ---------------------------------------------------------------------------
#
# The production retrieval stack is never one index: decontamination and
# curation lookups run lexical AND semantic retrieval and fuse.  Query
# units here are DOCUMENTS (the related-document search primitive): each
# query doc contributes its rarest terms to a BM25 leg over the postings
# and its embedding to a cosine leg over the vector table; each leg keeps
# its top-K ranks; RRF scores 1/(k+rank) summed across legs.  Ranks are
# computed on ROUNDED leg scores in both engines so float noise cannot
# flip a rank between Spark and the oracle.
#
# Scale shape: the query side is a Q-row broadcast everywhere; the BM25
# leg probes only the query docs' rarest terms' postings (the q112/q114
# selectivity argument); the vector leg here is the brute-force q27 form
# (it IS the recall oracle) — at 100 TB the leg swaps to the IVF probe
# (q29/q64) with identical output contract; fusion joins two <= Q x K row
# sides.  Nothing scans the corpus beyond the shared tokenize pass.


@_register(
    "q116_hybrid_rrf",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKENS_SQL_DUCK}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT (SELECT count(*) FROM documents) AS n,
               (SELECT avg(dl) FROM dl) AS avgdl
    ), dfr AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), qids AS (
        SELECT dl.doc_id AS query_doc FROM dl
        JOIN e ON e.vec_id = dl.doc_id
        ORDER BY dl.doc_id LIMIT {_HY_N_QUERIES}
    ), qterms AS (
        SELECT query_doc, term, df FROM (
            SELECT q.query_doc, t.term, d.df,
                   row_number() OVER (PARTITION BY q.query_doc
                                      ORDER BY d.df ASC, t.term) AS r
            FROM qids q
            JOIN tf t ON t.doc_id = q.query_doc
            JOIN dfr d ON d.term = t.term
        ) WHERE r <= {_HY_TERMS}
    ), lex AS (
        SELECT q.query_doc, t.doc_id,
               round(sum(round(
                 ln(1 + (s.n - q.df + 0.5) / (q.df + 0.5))
                 * (t.tf * ({_BM25_K1} + 1))
                 / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                                         + {_BM25_B} * d.dl / s.avgdl)), 6)), 6)
               AS lex_score
        FROM qterms q
        JOIN tf t ON t.term = q.term AND t.doc_id <> q.query_doc
        JOIN dl d ON d.doc_id = t.doc_id
        CROSS JOIN stats s
        GROUP BY q.query_doc, t.doc_id
    ), lex_ranked AS (
        SELECT query_doc, doc_id, rank_lex FROM (
            SELECT *, row_number() OVER (PARTITION BY query_doc
                                         ORDER BY lex_score DESC, doc_id)
                      AS rank_lex
            FROM lex
        ) WHERE rank_lex <= {_HY_LEG_K}
    ), vec AS (
        SELECT q.query_doc, e.vec_id AS doc_id,
               round(list_sum([qe.emb[i] * e.emb[i]
                               for i in range(1, len(qe.emb) + 1)])
                     / (sqrt(list_sum([x * x for x in qe.emb]))
                        * sqrt(list_sum([x * x for x in e.emb]))), 6) AS sim
        FROM qids q
        JOIN e qe ON qe.vec_id = q.query_doc
        JOIN e ON e.vec_id <> q.query_doc
    ), vec_ranked AS (
        SELECT query_doc, doc_id, rank_vec FROM (
            SELECT *, row_number() OVER (PARTITION BY query_doc
                                         ORDER BY sim DESC, doc_id) AS rank_vec
            FROM vec
        ) WHERE rank_vec <= {_HY_LEG_K}
    ), fused AS (
        SELECT coalesce(l.query_doc, v.query_doc) AS query_doc,
               coalesce(l.doc_id, v.doc_id) AS doc_id,
               CAST(coalesce(l.rank_lex, 0) AS INT) AS rank_lex,
               CAST(coalesce(v.rank_vec, 0) AS INT) AS rank_vec,
               round(coalesce(1.0 / ({_RRF_K} + l.rank_lex), 0)
                     + coalesce(1.0 / ({_RRF_K} + v.rank_vec), 0), 6)
               AS rrf_score
        FROM lex_ranked l
        FULL OUTER JOIN vec_ranked v
          ON v.query_doc = l.query_doc AND v.doc_id = l.doc_id
    )
    SELECT query_doc, doc_id, rank_lex, rank_vec, rrf_score,
           CAST(rank AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_doc
                                     ORDER BY rrf_score DESC, doc_id) AS rank
        FROM fused
    ) WHERE rank <= {_HY_TOPK}
    """,
)
def q116_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid related-document retrieval: for each of the 3 lowest-id docs
    that have both tokens and an embedding, a BM25 leg (the doc's 10
    rarest terms against the postings) and a cosine leg (its embedding
    against the vector table) each rank top-20 candidates; reciprocal-
    rank fusion (1/(60+rank) per leg) merges them into the final top-10.
    See the section comment for the scale shape and determinism rules."""
    docs = load_table(spark, sf_dir, "documents")
    # dl/avgdl/df and both probe joins read the session-shared (doc_id,
    # term, tf) table — q112's postings, not a tokenize pass of this query
    tf = term_freqs(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = docs.select(F.count(F.lit(1)).alias("n")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    # the normed embedding table (session-shared with q78 and q116/q117)
    # feeds three consumers: the query-id gate, the broadcast query side
    # and the corpus leg
    e = embedding_table(spark, sf_dir)

    qids = (
        dl.join(e.select(F.col("vec_id").alias("doc_id")), "doc_id")
        .select(F.col("doc_id").alias("query_doc"))
        .orderBy("query_doc")
        .limit(_HY_N_QUERIES)
    )
    rq = Window.partitionBy("query_doc").orderBy(F.asc("df"), "term")
    qterms = (
        F.broadcast(qids)
        .join(tf.withColumnRenamed("doc_id", "query_doc"), "query_doc")
        .join(dfr, "term")
        .withColumn("r", F.row_number().over(rq))
        .filter(F.col("r") <= _HY_TERMS)
        .select("query_doc", "term", "df")
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    bm_norm = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    term_score = F.round(idf * (F.col("tf") * (_BM25_K1 + 1)) / bm_norm, 6)
    lex = (
        F.broadcast(qterms)
        .join(tf, "term")
        .filter(F.col("doc_id") != F.col("query_doc"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_doc", "doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("lex_score"))
    )
    wl = Window.partitionBy("query_doc").orderBy(F.desc("lex_score"), "doc_id")
    lex_ranked = (
        lex.withColumn("rank_lex", F.row_number().over(wl).cast("int"))
        .filter(F.col("rank_lex") <= _HY_LEG_K)
        .select("query_doc", "doc_id", "rank_lex")
    )

    qe = (
        F.broadcast(qids)
        .join(e, e.vec_id == F.col("query_doc"))
        .select("query_doc", F.col("emb").alias("qe"), F.col("ne").alias("nq"))
    )
    dot = F.expr("aggregate(zip_with(qe, emb, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    sim = F.round(dot / (F.col("nq") * F.col("ne")), 6)
    vec = (
        F.broadcast(qe)
        .join(e, e.vec_id != F.col("query_doc"))
        .select("query_doc", F.col("vec_id").alias("doc_id"), sim.alias("sim"))
    )
    wv = Window.partitionBy("query_doc").orderBy(F.desc("sim"), "doc_id")
    vec_ranked = (
        vec.withColumn("rank_vec", F.row_number().over(wv).cast("int"))
        .filter(F.col("rank_vec") <= _HY_LEG_K)
        .select("query_doc", "doc_id", "rank_vec")
    )

    fused = (
        lex_ranked.join(vec_ranked, ["query_doc", "doc_id"], "full_outer")
        .select(
            "query_doc",
            "doc_id",
            # 0 = absent from that leg's top-K (avoids a nullable-int
            # column, which pandas/duckdb would coerce to float)
            F.coalesce("rank_lex", F.lit(0)).cast("int").alias("rank_lex"),
            F.coalesce("rank_vec", F.lit(0)).cast("int").alias("rank_vec"),
            F.round(
                F.coalesce(F.lit(1.0) / (_RRF_K + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("rank_vec")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )
    wf = Window.partitionBy("query_doc").orderBy(F.desc("rrf_score"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= _HY_TOPK)
        .select("query_doc", "doc_id", "rank_lex", "rank_vec", "rrf_score", "rank")
    )


# ---------------------------------------------------------------------------
# q117 — hard-negative mining for contrastive retrieval training: documents
# that score HIGH on the lexical leg (BM25 over the query doc's rarest
# terms) but LOW on the semantic leg (cosine < tau) — the classic "BM25
# negatives" recipe for training dense retrievers (public method; original
# implementation).  Lexically-confusable-but-semantically-far pairs are
# exactly the negatives a contrastive loss needs.
# ---------------------------------------------------------------------------

_HN_TAU = 0.25  # cosine below this = semantically far enough to be a negative


@_register(
    "q117_hard_negatives",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKENS_SQL_DUCK}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT (SELECT count(*) FROM documents) AS n,
               (SELECT avg(dl) FROM dl) AS avgdl
    ), dfr AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), qids AS (
        SELECT dl.doc_id AS query_doc FROM dl
        JOIN e ON e.vec_id = dl.doc_id
        ORDER BY dl.doc_id LIMIT {_HY_N_QUERIES}
    ), qterms AS (
        SELECT query_doc, term, df FROM (
            SELECT q.query_doc, t.term, d.df,
                   row_number() OVER (PARTITION BY q.query_doc
                                      ORDER BY d.df ASC, t.term) AS r
            FROM qids q
            JOIN tf t ON t.doc_id = q.query_doc
            JOIN dfr d ON d.term = t.term
        ) WHERE r <= {_HY_TERMS}
    ), lex AS (
        SELECT q.query_doc, t.doc_id,
               round(sum(round(
                 ln(1 + (s.n - q.df + 0.5) / (q.df + 0.5))
                 * (t.tf * ({_BM25_K1} + 1))
                 / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                                         + {_BM25_B} * d.dl / s.avgdl)), 6)), 6)
               AS lex_score
        FROM qterms q
        JOIN tf t ON t.term = q.term AND t.doc_id <> q.query_doc
        JOIN dl d ON d.doc_id = t.doc_id
        CROSS JOIN stats s
        GROUP BY q.query_doc, t.doc_id
    ), lex_ranked AS (
        SELECT query_doc, doc_id, lex_score, rank_lex FROM (
            SELECT *, row_number() OVER (PARTITION BY query_doc
                                         ORDER BY lex_score DESC, doc_id)
                      AS rank_lex
            FROM lex
        ) WHERE rank_lex <= {_HY_LEG_K}
    )
    SELECT l.query_doc, l.doc_id,
           CAST(l.rank_lex AS INT) AS rank_lex,
           l.lex_score,
           round(list_sum([qe.emb[i] * ce.emb[i]
                           for i in range(1, len(qe.emb) + 1)])
                 / (sqrt(list_sum([x * x for x in qe.emb]))
                    * sqrt(list_sum([x * x for x in ce.emb]))), 6) AS cos_sim
    FROM lex_ranked l
    JOIN e qe ON qe.vec_id = l.query_doc
    JOIN e ce ON ce.vec_id = l.doc_id
    WHERE round(list_sum([qe.emb[i] * ce.emb[i]
                          for i in range(1, len(qe.emb) + 1)])
                / (sqrt(list_sum([x * x for x in qe.emb]))
                   * sqrt(list_sum([x * x for x in ce.emb]))), 6) < {_HN_TAU}
    """,
)
def q117_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-negatives mining: for each q116 query doc, the top-20 lexical
    candidates (same rarest-term BM25 leg) that are semantically FAR from
    the query (cosine < 0.25, computed only for candidates that have an
    embedding) — the hard negatives a contrastive retriever trains on.

    Scale shape: the lexical leg is the q116 selective-postings probe;
    the cosine check touches ONLY the <= Q x 20 candidate rows (inner
    join to the vector table on candidate id, query side broadcast) —
    never a corpus-wide similarity pass."""
    docs = load_table(spark, sf_dir, "documents")
    # dl/avgdl/df and both probe joins read the session-shared (doc_id,
    # term, tf) table — q112's postings, not a tokenize pass of this query
    tf = term_freqs(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = docs.select(F.count(F.lit(1)).alias("n")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # the normed embedding table (session-shared with q78 and q116/q117)
    # feeds three consumers: the query-id gate, the broadcast query side
    # and the corpus leg
    e = embedding_table(spark, sf_dir)

    qids = (
        dl.join(e.select(F.col("vec_id").alias("doc_id")), "doc_id")
        .select(F.col("doc_id").alias("query_doc"))
        .orderBy("query_doc")
        .limit(_HY_N_QUERIES)
    )
    rq = Window.partitionBy("query_doc").orderBy(F.asc("df"), "term")
    qterms = (
        F.broadcast(qids)
        .join(tf.withColumnRenamed("doc_id", "query_doc"), "query_doc")
        .join(dfr, "term")
        .withColumn("r", F.row_number().over(rq))
        .filter(F.col("r") <= _HY_TERMS)
        .select("query_doc", "term", "df")
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    bm_norm = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    term_score = F.round(idf * (F.col("tf") * (_BM25_K1 + 1)) / bm_norm, 6)
    lex = (
        F.broadcast(qterms)
        .join(tf, "term")
        .filter(F.col("doc_id") != F.col("query_doc"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_doc", "doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("lex_score"))
    )
    wl = Window.partitionBy("query_doc").orderBy(F.desc("lex_score"), "doc_id")
    lex_ranked = (
        lex.withColumn("rank_lex", F.row_number().over(wl).cast("int"))
        .filter(F.col("rank_lex") <= _HY_LEG_K)
    )
    qe = (
        F.broadcast(qids)
        .join(e, e.vec_id == F.col("query_doc"))
        .select("query_doc", F.col("emb").alias("qemb"), F.col("ne").alias("nq"))
    )
    ce = e.select(
        F.col("vec_id").alias("doc_id"),
        F.col("emb").alias("cemb"),
        F.col("ne").alias("nc"),
    )
    dot = F.expr("aggregate(zip_with(qemb, cemb, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    cos = F.round(dot / (F.col("nq") * F.col("nc")), 6)
    return (
        lex_ranked.join(F.broadcast(qe), "query_doc")
        .join(ce, "doc_id")
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") < _HN_TAU)
        .select("query_doc", "doc_id", "rank_lex", "lex_score", "cos_sim")
    )
