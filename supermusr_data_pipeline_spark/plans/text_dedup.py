"""Text analysis, deduplication, and similarity-search queries — the
training-data-pipeline operator set (BASELINE.json north star), each with a
DuckDB oracle.

Engine-agnostic hashing: token → first 8 hex chars of md5 → uint32.  Both
engines share md5, so MinHash/SimHash signatures are bit-identical and fully
oracle-checkable — no rows-only escape hatch needed.

Scale notes: everything is expressed over distinct-token arrays with
higher-order functions (JVM-side in Spark, no Python UDFs); candidate
generation uses LSH band buckets (shuffle on band key) rather than O(n²)
pairs; the brute-force cosine top-k is the verification baseline with the
LSH-bucketed variant as the scale path.
"""

from __future__ import annotations

import os
import random
import threading
import time
from collections import OrderedDict

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import materialize
from ..sources.testdata import load_table, spread_scan
from .relational import ORACLES, QUERIES, _register

# ---------------------------------------------------------------------------
# shared materialized intermediates
# ---------------------------------------------------------------------------
# Composed queries (q42 consumes q25's pair graph; q46 consumes q42's cluster
# labels; q47 consumes q29's index hits) must not re-run their expensive
# inputs per invocation: at 100 TB cluster labels are a materialized artifact
# (a Delta/Parquet table written once per corpus snapshot), not a subquery.
# This cache is the single-session analog — the first builder call
# materializes the result (`materialize()`: an eager localCheckpoint on local
# masters, a lineage-keeping persist on clusters) and every later consumer
# in the same session reuses it.  Keyed by (application, sf_dir, name) so
# different datasets never alias.  `_SHARED_BUILDS` counts builder runs so a
# test can pin "one LSH pass per session".
#
# Shared names: the per-document feature tables `token_signatures`,
# `term_freqs` and `embedding_table` (each derived once and read by the LSH
# dedup, index-build, BM25, hybrid-retrieval and IVF-PQ plans), and the
# composed results q25_lsh_near_dup, q42_dedup_clusters and q29_ivf_ann.
# Every entry assumes an sf_dir's tables do not change within a session: a
# documents/embeddings table rewritten under the same sf_dir is served stale
# until `clear_shared_cache()`.
#
# Hygiene (a long-lived multi-tenant session must not accumulate checkpoints
# indefinitely):
#   * every entry records the persistent-RDD ids its checkpoint created, so
#     eviction releases executor storage EXPLICITLY rather than waiting for
#     JVM GC + ContextCleaner to notice the dropped reference;
#   * the cache is LRU-bounded at `_SHARED_CACHE_MAX` entries — an evicted
#     entry's next consumer simply rebuilds (and `_SHARED_BUILDS` counts it);
#   * entries from stopped sessions (applicationId no longer active) are
#     pruned on insert — their blocks died with the executors anyway;
#   * an RLock makes check-then-insert atomic (no double-build from
#     concurrent callers) and re-entrant, because composed builders recurse:
#     q42's builder consumes q25 through this same function.  Builds of
#     different keys serialize behind the lock; that is the price of the
#     one-pass invariant and is irrelevant at scale, where these artifacts
#     are written once per corpus snapshot by a single pipeline run.

_SHARED_CACHE: "OrderedDict" = OrderedDict()  # key -> (DataFrame, frozenset[int])
_SHARED_BUILDS: dict = {}
# key -> EXCLUSIVE build seconds of that intermediate (its own work minus
# any nested intermediates it triggered); see _shared_checkpoint
_SHARED_BUILD_SECONDS: dict = {}
_SHARED_CACHE_MAX = 16
_SHARED_LOCK = threading.RLock()


def _persistent_rdd_ids(sc) -> set:
    """Ids of RDDs the JVM currently tracks as persisted (incl. local
    checkpoints, which are persisted MEMORY_AND_DISK behind the scenes)."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _unpersist_rdd_ids(sc, ids) -> None:
    """Explicitly release the given persistent RDDs (non-blocking).

    Only ids produced by OUR eager materialize() jobs are ever passed in
    (captured as a before/after diff around the build under `_SHARED_LOCK`),
    so this never touches caches owned by user code."""
    if not ids:
        return
    jmap = sc._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    while it.hasNext():
        entry = it.next()
        if int(entry.getKey()) in ids:
            entry.getValue().unpersist(False)


def _shared_checkpoint(spark: SparkSession, sf_dir: str, name: str, builder) -> DataFrame:
    sc = spark.sparkContext
    key = (sc.applicationId, sf_dir, name)
    with _SHARED_LOCK:
        hit = _SHARED_CACHE.get(key)
        if hit is not None:
            _SHARED_CACHE.move_to_end(key)
            return hit[0]
        for stale in [k for k in _SHARED_CACHE if k[0] != key[0]]:
            del _SHARED_CACHE[stale]  # stopped session: blocks already gone
        before = _persistent_rdd_ids(sc)
        inner_before = sum(_SHARED_BUILD_SECONDS.values())
        t0 = time.perf_counter()
        built = builder()  # may recursively insert its own inputs (q42→q25)
        mid = _persistent_rdd_ids(sc)
        df = materialize(built)
        elapsed = time.perf_counter() - t0
        # exclusive build time: the recursion records its own inputs' builds
        # while ours is on the stack, so subtracting their contribution
        # attributes each intermediate only the seconds IT added (q42 = CC
        # rounds on top of q25's pair graph) — bench.py reports this split
        # so a q25/q42 regression is attributable round-over-round
        inner = sum(_SHARED_BUILD_SECONDS.values()) - inner_before
        _SHARED_BUILD_SECONDS[key] = max(0.0, elapsed - inner)
        after = _persistent_rdd_ids(sc)
        # Checkpoints the builder materialized internally (e.g. the CC label
        # rounds inside q42) are dead weight once the outer checkpoint holds
        # the data — release them now, EXCEPT ids owned by cache entries the
        # recursion just inserted (q25's shared pair graph must survive).
        owned = set().union(*(e[1] for e in _SHARED_CACHE.values())) if _SHARED_CACHE else set()
        _unpersist_rdd_ids(sc, (mid - before) - owned)
        _SHARED_BUILDS[key] = _SHARED_BUILDS.get(key, 0) + 1
        _SHARED_CACHE[key] = (df, frozenset(after - mid))
        while len(_SHARED_CACHE) > _SHARED_CACHE_MAX:
            _, (_old_df, old_ids) = _SHARED_CACHE.popitem(last=False)
            _unpersist_rdd_ids(sc, old_ids)
        return df


def clear_shared_cache() -> None:
    """Drop every cached intermediate, explicitly unpersisting checkpoints
    that belong to the still-active SparkContext (stopped sessions' blocks
    are already gone)."""
    from pyspark import SparkContext

    with _SHARED_LOCK:
        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                app_id = sc.applicationId
                ids: set = set()
                for k, (_df, eids) in _SHARED_CACHE.items():
                    if k[0] == app_id:
                        ids |= set(eids)
                _unpersist_rdd_ids(sc, ids)
            except Exception:  # context raced to stop — nothing to release
                pass
        _SHARED_CACHE.clear()
        _SHARED_BUILDS.clear()
        _SHARED_BUILD_SECONDS.clear()


def shared_build_seconds() -> dict[str, float]:
    """{intermediate name: exclusive build seconds} for the live app —
    the q25-vs-q42 attribution bench.py embeds as `shared_intermediates`."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    return {
        k[2]: round(v, 3)
        for k, v in _SHARED_BUILD_SECONDS.items()
        if app is None or k[0] == app
    }

# ---------------------------------------------------------------------------
# shared token / hash expressions (Spark side); SQL strings mirror them
# ---------------------------------------------------------------------------

# tokens: whitespace split, empties dropped
_TOKENS_SQL_DUCK = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
_TOKENS_EXPR_SPARK = "filter(split(text, '\\\\s+'), x -> x != '')"

# token → uint32 via md5 prefix (identical in both engines)
_TOKHASH_DUCK = "('0x' || substr(md5({t}), 1, 8))::UBIGINT::BIGINT"
_TOKHASH_SPARK = "cast(conv(substr(md5({t}), 1, 8), 16, 10) as bigint)"

# MinHash parameters: k=16 permutations h_i(x) = (a_i*x + b_i) mod p.
# a_i < 2^16 keeps a_i * x < 2^48 — no BIGINT overflow.
_MINHASH_P = 2_147_483_647
_rng = random.Random(42)
_MINHASH_A = [_rng.randrange(1, 65_536) for _ in range(16)]
_MINHASH_B = [_rng.randrange(0, _MINHASH_P) for _ in range(16)]
_N_BANDS = 4
_ROWS_PER_BAND = 4


def _minhash_cols_duck() -> str:
    cols = []
    for i, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B)):
        cols.append(
            f"list_min([({a} * h + {b}) % {_MINHASH_P} for h in th]) AS mh{i:02d}"
        )
    return ",\n           ".join(cols)


def _minhash_cols_spark() -> list:
    cols = []
    for i, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B)):
        cols.append(
            F.expr(
                f"array_min(transform(th, h -> ({a}L * h + {b}L) % {_MINHASH_P}L))"
            ).alias(f"mh{i:02d}")
        )
    return cols


def _with_token_hashes(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    """``spread=True`` fans the scan out to default parallelism before the
    tokenize + per-token md5 pass (the dominant CPU cost of every minhash
    consumer) — see sources.testdata.spread_scan; used by the shared
    `token_signatures` table, left off for cheap narrow consumers whose
    plans are pinned shuffle-free."""
    docs = load_table(spark, sf_dir, "documents")
    if spread:
        docs = spread_scan(docs)
    return docs.withColumn("tokens", F.expr(_TOKENS_EXPR_SPARK)).withColumn(
        "th",
        F.expr(
            "transform(array_distinct({toks}), t -> {h})".format(
                toks=_TOKENS_EXPR_SPARK, h=_TOKHASH_SPARK.format(t="t")
            )
        ),
    )


def token_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared (doc_id, th, mh00..mh15) for every document with at
    least one token: the distinct token hashes and their 16 MinHash values.
    The tokenize + per-token md5 + MinHash pass is the dominant CPU cost of
    the dedup family; q25, q69, q79, q82 and the LSH index build and append
    all read this one table instead of re-deriving it (bands come from the
    ``mh`` columns, verification from ``th``)."""
    return _shared_checkpoint(
        spark,
        sf_dir,
        "token_signatures",
        lambda: _with_token_hashes(spark, sf_dir, spread=True)
        .filter(F.size("th") > 0)
        .select("doc_id", "th", *_minhash_cols_spark()),
    )


def term_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared BM25 postings (doc_id, term, tf): one tokenize +
    explode + keyed count over the corpus.  Every corpus statistic of the
    retrieval plans (dl = Σ tf per doc, df = postings per term) and their
    probe joins derive from it; q112, q116, q117 and the postings index
    build read this one table."""
    return _shared_checkpoint(
        spark,
        sf_dir,
        "term_freqs",
        lambda: spread_scan(load_table(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.expr(_TOKENS_EXPR_SPARK)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
    )


def embedding_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared (vec_id, emb double[], ne): the embeddings cast to
    double with their L2 norm, read by q78's encode and re-rank and by the
    cosine legs of q116 and q117."""
    return _shared_checkpoint(
        spark,
        sf_dir,
        "embedding_table",
        lambda: spread_scan(load_table(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
        )
        .withColumn(
            "ne", F.expr("sqrt(aggregate(transform(emb, x -> x * x), 0D, (a, x) -> a + x))")
        ),
    )


_DUCK_TH_CTE = f"""
    WITH toks AS (
        SELECT doc_id, lang, source, n_chars,
               {_TOKENS_SQL_DUCK} AS tokens
        FROM documents
    ), th_t AS (
        SELECT *, [{_TOKHASH_DUCK.format(t='t')} for t in list_distinct(tokens)] AS th
        FROM toks
    )
"""

# ---------------------------------------------------------------------------
# q20 — text statistics / quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS = ["a", "the", "of", "to", "in", "is", "and"]
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"


@_register(
    "q20_text_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, n_chars, {_TOKENS_SQL_DUCK} AS t FROM documents
    )
    SELECT doc_id,
           len(t)::INT AS n_tokens,
           len(list_distinct(t))::INT AS n_distinct,
           list_sum([length(x) for x in t])::BIGINT AS sum_token_len,
           list_sum([length(x) for x in t])::BIGINT::DOUBLE / len(t) AS avg_token_len,
           len(list_filter(t, x -> list_contains({_STOP_SQL}, x)))::INT AS n_stopwords,
           len(list_filter(t, x -> list_contains({_STOP_SQL}, x)))::INT::DOUBLE
               / len(t) AS stopword_ratio,
           len(list_distinct(t))::INT::DOUBLE / len(t) AS distinct_ratio,
           n_chars
    FROM toks WHERE len(t) > 0
    """,
)
def q20_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: token counts, average token length, stopword
    ratio, distinct-token ratio — all JVM higher-order functions, zero
    Python.  The quality heuristics of a pretraining-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.expr(_TOKENS_EXPR_SPARK)
    stop = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tok = F.size(t)
    sum_len = F.expr(
        f"aggregate({_TOKENS_EXPR_SPARK}, 0L, (a, x) -> a + length(x))"
    )
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop, x)))
    n_dist = F.size(F.array_distinct(t))
    return (
        docs.select(
            "doc_id",
            n_tok.alias("n_tokens"),
            n_dist.alias("n_distinct"),
            sum_len.alias("sum_token_len"),
            (sum_len.cast("double") / n_tok).alias("avg_token_len"),
            n_stop.alias("n_stopwords"),
            (n_stop.cast("double") / n_tok).alias("stopword_ratio"),
            (n_dist.cast("double") / n_tok).alias("distinct_ratio"),
            "n_chars",
        )
        .filter(F.col("n_tokens") > 0)
    )


# ---------------------------------------------------------------------------
# q21 — language identification (marker-word scoring heuristic)
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ["the", "a", "window", "spark", "order"],
    "de": ["vector", "customer", "key", "column"],
    "fr": ["scan", "query", "data", "line"],
    "es": ["slow", "merge", "agg", "hash"],
    "zh": ["join", "small", "stream", "row"],
}


def _lang_score_duck(lang: str) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang]) + "]"
    return f"len(list_filter(t, x -> list_contains({lst}, x)))::INT"


@_register(
    "q21_lang_id",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, {_TOKENS_SQL_DUCK} AS t FROM documents
    ), scored AS (
        SELECT doc_id, lang,
               {_lang_score_duck('en')} AS s_en,
               {_lang_score_duck('de')} AS s_de,
               {_lang_score_duck('fr')} AS s_fr,
               {_lang_score_duck('es')} AS s_es,
               {_lang_score_duck('zh')} AS s_zh
        FROM toks
    )
    SELECT doc_id, lang, s_en, s_de, s_fr, s_es, s_zh,
           CASE WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
                WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
                WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
                WHEN s_es >= s_zh THEN 'es'
                ELSE 'zh' END AS predicted_lang
    FROM scored
    """,
)
def q21_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-word hit counts per language with a
    deterministic argmax.  (On this synthetic corpus the marker sets are
    arbitrary; the operator contract — deterministic classifier over token
    sets — is what the oracle checks.)"""
    docs = load_table(spark, sf_dir, "documents")
    t = F.expr(_TOKENS_EXPR_SPARK)

    def score(lang: str):
        lst = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
        return F.size(F.filter(t, lambda x: F.array_contains(lst, x)))

    df = docs.select(
        "doc_id",
        "lang",
        score("en").alias("s_en"),
        score("de").alias("s_de"),
        score("fr").alias("s_fr"),
        score("es").alias("s_es"),
        score("zh").alias("s_zh"),
    )
    c = F
    pred = (
        c.when(c.col("s_en") >= c.greatest("s_de", "s_fr", "s_es", "s_zh"), "en")
        .when(c.col("s_de") >= c.greatest("s_fr", "s_es", "s_zh"), "de")
        .when(c.col("s_fr") >= c.greatest("s_es", "s_zh"), "fr")
        .when(c.col("s_es") >= c.col("s_zh"), "es")
        .otherwise("zh")
    )
    return df.withColumn("predicted_lang", pred)


# ---------------------------------------------------------------------------
# q22 — exact dedup via content fingerprint
# ---------------------------------------------------------------------------


@_register(
    "q22_fingerprint_dedup",
    oracle="""
    SELECT md5(lower(text)) AS fingerprint,
           count(*) AS n_copies,
           min(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY md5(lower(text))
    """,
)
def q22_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on a content fingerprint, keep the
    lowest doc_id per group.  At 100 TB this is the standard shuffle-on-
    digest dedup; the md5 is computed JVM-side in the scan stage."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.lower("text")).alias("fingerprint")).agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id")
    )


# ---------------------------------------------------------------------------
# q23 — n-gram Jaccard similarity of adjacent doc pairs
# ---------------------------------------------------------------------------


@_register(
    "q23_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS_SQL_DUCK} AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                   THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
                   ELSE [] END) AS g
        FROM toks
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.g, b.g))::INT AS n_common,
           (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))::INT AS n_union,
           len(list_intersect(a.g, b.g))::INT::DOUBLE
               / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    WHERE len(a.g) > 0 AND len(b.g) > 0
    """,
)
def q23_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard between adjacent documents — the shingle+set
    similarity primitive under MinHash, computed exactly.  Higher-order
    array functions only; the join key (doc_id+1) is a narrow merge."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE into a named column; the shingle expression then refers
    # to `toks` instead of re-embedding the tokenizer per element (Catalyst
    # CSE usually rescues the inline form, but this is cheaper and clearer)
    shingles = F.expr(
        """
        array_distinct(CASE WHEN size(toks) >= 3
            THEN transform(sequence(0, size(toks) - 3),
                 i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))
            ELSE array() END)
        """
    )
    sh = (
        docs.select("doc_id", F.expr(_TOKENS_EXPR_SPARK).alias("toks"))
        .select("doc_id", shingles.alias("g"))
        .filter(F.size("g") > 0)
    )
    a = sh.alias("a")
    b = sh.select(
        (F.col("doc_id") - 1).alias("join_id"), F.col("doc_id").alias("doc_b"), F.col("g").alias("gb")
    ).alias("b")
    joined = a.join(b, F.col("a.doc_id") == F.col("b.join_id"))
    inter = F.size(F.array_intersect(F.col("a.g"), F.col("gb")))
    union = F.size(F.col("a.g")) + F.size(F.col("gb")) - inter
    return joined.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("doc_b"),
        inter.alias("n_common"),
        union.alias("n_union"),
        (inter.cast("double") / union).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# q24 — MinHash signatures (oracle-checked bit-for-bit)
# ---------------------------------------------------------------------------


@_register(
    "q24_minhash_signatures",
    oracle=f"""
    {_DUCK_TH_CTE}
    SELECT doc_id,
           {_minhash_cols_duck()}
    FROM th_t WHERE len(th) > 0
    """,
)
def q24_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash: k=16 universal-hash permutations over md5-derived token ids
    (shingle→minhash of the dedup pipeline).  Signature computation is a
    narrow map — no shuffle; signatures are 128 bytes/doc at any scale."""
    df = _with_token_hashes(spark, sf_dir)
    return df.filter(F.size("th") > 0).select("doc_id", *_minhash_cols_spark())


# ---------------------------------------------------------------------------
# q25 — LSH banding → candidate pairs → exact Jaccard verify
# ---------------------------------------------------------------------------


def _band_keys_duck() -> str:
    bands = []
    for bnd in range(_N_BANDS):
        parts = ", ".join(
            f"mh{bnd * _ROWS_PER_BAND + r:02d}::VARCHAR" for r in range(_ROWS_PER_BAND)
        )
        bands.append(f"md5(concat_ws(',', {parts})) AS band{bnd}")
    return ",\n           ".join(bands)


def _banded(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_no, key) rows from a signature table — the banding of
    `_band_keys_duck` (md5 over each band's 4 signature values)."""
    band_cols = []
    for bnd in range(_N_BANDS):
        parts = [
            F.col(f"mh{bnd * _ROWS_PER_BAND + r:02d}").cast("string")
            for r in range(_ROWS_PER_BAND)
        ]
        band_cols.append(
            F.struct(
                F.lit(bnd).alias("band_no"), F.md5(F.concat_ws(",", *parts)).alias("key")
            ).alias(f"b{bnd}")
        )
    return (
        sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bk"))
        .select("doc_id", F.col("bk.band_no").alias("band_no"), F.col("bk.key").alias("key"))
    )


# LSH bucket-size cap: buckets larger than this are non-discriminative (the
# standard stop-bucket guard) and would otherwise produce O(bucket²) pairs —
# the skew killer at scale.  Mirrored exactly in the oracle.
_LSH_BUCKET_CAP = 64


@_register(
    "q25_lsh_near_dup",
    oracle=f"""
    {_DUCK_TH_CTE}
    , sigs AS (
        SELECT doc_id, th,
               {_minhash_cols_duck()}
        FROM th_t WHERE len(th) > 0
    ), banded AS (
        SELECT doc_id,
               {_band_keys_duck()}
        FROM sigs
    ), long_banded AS (
        SELECT doc_id, band_no, key FROM (
            SELECT doc_id, 0 AS band_no, band0 AS key FROM banded
            UNION ALL SELECT doc_id, 1, band1 FROM banded
            UNION ALL SELECT doc_id, 2, band2 FROM banded
            UNION ALL SELECT doc_id, 3, band3 FROM banded
        )
    ), sized AS (
        SELECT *, count(*) OVER (PARTITION BY band_no, key) AS bucket_n
        FROM long_banded
    ), capped AS (
        SELECT doc_id, band_no, key FROM sized WHERE bucket_n <= {_LSH_BUCKET_CAP}
    ), star AS (
        SELECT rep AS doc_a, doc_id AS doc_b FROM (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY band_no, key) AS rep
            FROM sized WHERE bucket_n > {_LSH_BUCKET_CAP}
        ) WHERE doc_id > rep
    ), pairs AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b
              ON a.band_no = b.band_no AND a.key = b.key AND b.doc_id > a.doc_id
            UNION ALL SELECT doc_a, doc_b FROM star
        )
    )
    SELECT p.doc_a, p.doc_b,
           len(list_intersect(ta.th, tb.th))::INT::DOUBLE
               / (len(ta.th) + len(tb.th) - len(list_intersect(ta.th, tb.th))) AS jaccard
    FROM pairs p
    JOIN th_t ta ON ta.doc_id = p.doc_a
    JOIN th_t tb ON tb.doc_id = p.doc_b
    WHERE len(list_intersect(ta.th, tb.th))::INT::DOUBLE
               / (len(ta.th) + len(tb.th) - len(list_intersect(ta.th, tb.th))) >= 0.5
    """,
)
def q25_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate detection: band the 16-wide signature into
    4 bands of 4, bucket-join on band keys, verify candidates with exact
    token-set Jaccard ≥ 0.5.

    Scale design: (a) the bucket join carries only doc_ids — token arrays
    re-attach after pair dedup, so shuffle rows stay ~40 bytes; (b) buckets
    larger than _LSH_BUCKET_CAP (64) switch from all-pairs to STAR linking
    — every member pairs with the bucket's min-doc_id representative, so
    cost is O(bucket) instead of O(bucket²) while the family stays
    CONNECTED for the clustering consumers (q42/q46 recover full
    membership through connected components; dropping hot buckets outright
    — the previous design — silently unlinked exactly the large template
    families dedup exists to catch, measured by q69); (c) never O(n²).

    The verified pair graph is a shared materialized intermediate: one LSH
    pass per session, reused by q42/q46 (see ``_shared_checkpoint``)."""
    return _shared_checkpoint(
        spark, sf_dir, "q25_lsh_near_dup", lambda: _q25_build(spark, sf_dir)
    )


def _q25_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the build refers to the signature table from four places (bucket
    # sizing, the capped join's two sides, and both token re-attachments);
    # the session-shared table holds it, so the minhash pass — the dominant
    # CPU cost — runs once for this build and for every later consumer
    base = token_signatures(spark, sf_dir)
    th = base.select("doc_id", "th")
    banded = _banded(base)
    # bucket occupancy AND the star representative from ONE window over the
    # banded rows (exactly the oracle's formulation): r14 computed the
    # occupancy as groupBy+join-back and the rep as a second groupBy+join —
    # three extra exchanges of the same (band_no, key)-keyed rows (guide
    # §2.4: operations keyed the same way share one exchange).  Skew parity:
    # a pathological hot bucket lands on one task either way (the join also
    # clusters by bucket key), and the star path bounds its output.
    wb = Window.partitionBy("band_no", "key")
    sized = banded.withColumn("count", F.count(F.lit(1)).over(wb)).withColumn(
        "rep", F.min("doc_id").over(wb)
    )
    capped = sized.filter(F.col("count") <= _LSH_BUCKET_CAP).select(
        "doc_id", "band_no", "key"
    )
    a = capped.alias("a")
    b = capped.alias("b")
    pairs_all = a.join(
        b,
        (F.col("a.band_no") == F.col("b.band_no"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("b.doc_id") > F.col("a.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    # over-cap buckets: O(bucket) star edges to the min-doc_id representative
    pairs_star = (
        sized.filter(F.col("count") > _LSH_BUCKET_CAP)
        .filter(F.col("doc_id") > F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    pairs = pairs_all.unionByName(pairs_star).dropDuplicates(["doc_a", "doc_b"])
    ta = th.select(F.col("doc_id").alias("doc_a"), F.col("th").alias("tha"))
    tb = th.select(F.col("doc_id").alias("doc_b"), F.col("th").alias("thb"))
    verified = pairs.join(ta, "doc_a").join(tb, "doc_b")
    inter = F.size(F.array_intersect("tha", "thb"))
    union = F.size("tha") + F.size("thb") - inter
    jac = inter.cast("double") / union
    return verified.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= 0.5
    )


# ---------------------------------------------------------------------------
# q26 — SimHash (32-bit) signatures
# ---------------------------------------------------------------------------


@_register(
    "q26_simhash",
    oracle=f"""
    {_DUCK_TH_CTE}
    SELECT doc_id,
           list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END
                                         for h in th]) > 0
                          THEN (1::BIGINT << j) ELSE 0 END
                     for j in range(32)])::BIGINT AS simhash
    FROM th_t WHERE len(th) > 0
    """,
)
def q26_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprinting: per-bit majority vote over the
    md5-derived token hashes, folded into a 32-bit signature — nested
    higher-order aggregates, fully JVM-side, narrow (no shuffle)."""
    df = _with_token_hashes(spark, sf_dir)
    simhash = F.expr(
        """
        aggregate(sequence(0, 31), 0L, (acc, j) -> acc +
            CASE WHEN aggregate(th, 0L,
                     (a, h) -> a + CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
                 THEN shiftleft(1L, j) ELSE 0L END)
        """
    )
    return df.filter(F.size("th") > 0).select("doc_id", simhash.alias("simhash"))


# ---------------------------------------------------------------------------
# q27 — brute-force cosine top-k (ANN baseline)
# ---------------------------------------------------------------------------


@_register(
    "q27_ann_topk",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id % 20 = 0
    ), sims AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round(list_sum([qe[i] * emb[i] for i in range(1, len(qe) + 1)])
                     / (sqrt(list_sum([x * x for x in qe]))
                        * sqrt(list_sum([x * x for x in emb]))), 6) AS sim
        FROM q JOIN e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims
    ) WHERE rank <= 5
    """,
)
def q27_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search baseline: brute-force cosine top-5 for every 20th
    vector.  zip_with dot product + aggregate norms (JVM, no Python); the
    query side broadcasts so the corpus never shuffles.  The LSH-bucketed
    variant (q28) is the 100 TB path; this exact form is its recall oracle.

    Norms are precomputed per ROW before the pair join (same doubles, same
    sqrt, evaluated n + |Q| times instead of n·|Q| times)."""
    norm = "sqrt(aggregate(transform({c}, x -> x * x), 0D, (a, x) -> a + x))"
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("emb")
    ).withColumn("ne", F.expr(norm.format(c="emb")))
    q = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.col("ne").alias("nq"),
    )
    dot = F.expr("aggregate(zip_with(qe, emb, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    sim = F.round(dot / (F.col("nq") * F.col("ne")), 6)
    sims = (
        F.broadcast(q)
        .join(e, e.vec_id != q.query_id)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# q28 — hyperplane-LSH bucketed near-dup over embeddings
# ---------------------------------------------------------------------------

_HP_SEED_RNG = random.Random(7)
# 16 pseudo-random hyperplanes over 64 dims, fixed literals shared by both
# engines; banded 2×8 so each band key has 256 values but the COMBINED scheme
# has 2 independent probes (recall of an 8-bit code, collision volume of a
# capped 8-bit bucket per band).
_N_HYPERPLANES = 16
_HP_BANDS = 2
_HP_PLANES_PER_BAND = _N_HYPERPLANES // _HP_BANDS
_HYPERPLANES = [
    [round(_HP_SEED_RNG.uniform(-1, 1), 6) for _ in range(64)]
    for _ in range(_N_HYPERPLANES)
]


def _hp_band_duck(bnd: int) -> str:
    bits = []
    for jj in range(_HP_PLANES_PER_BAND):
        hp = _HYPERPLANES[bnd * _HP_PLANES_PER_BAND + jj]
        lst = "[" + ", ".join(str(x) for x in hp) + "]"
        bits.append(
            f"CASE WHEN list_sum([emb[i] * ({lst})[i] for i in range(1, 65)]) > 0"
            f" THEN (1 << {jj}) ELSE 0 END"
        )
    return "(" + " + ".join(bits) + ")"


def _hp_band_spark(bnd: int) -> str:
    bits = []
    for jj in range(_HP_PLANES_PER_BAND):
        hp = _HYPERPLANES[bnd * _HP_PLANES_PER_BAND + jj]
        lst = "array(" + ", ".join(f"{x}D" for x in hp) + ")"
        bits.append(
            f"CASE WHEN aggregate(zip_with(emb, {lst}, (x, y) -> x * y), 0D,"
            f" (a, x) -> a + x) > 0 THEN shiftleft(1, {jj}) ELSE 0 END"
        )
    return "(" + " + ".join(bits) + ")"


@_register(
    "q28_embedding_near_dup",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), sig AS (
        SELECT vec_id, emb, {_hp_band_duck(0)} AS band0, {_hp_band_duck(1)} AS band1
        FROM e
    ), long_banded AS (
        SELECT vec_id, 0 AS band_no, band0 AS key FROM sig
        UNION ALL SELECT vec_id, 1, band1 FROM sig
    ), capped AS (
        SELECT vec_id, band_no, key FROM (
            SELECT *, count(*) OVER (PARTITION BY band_no, key) AS bucket_n
            FROM long_banded
        ) WHERE bucket_n <= {_LSH_BUCKET_CAP}
    ), pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM capped a JOIN capped b
          ON a.band_no = b.band_no AND a.key = b.key AND b.vec_id > a.vec_id
    )
    SELECT p.vec_a, p.vec_b,
           round(list_sum([ea.emb[i] * eb.emb[i] for i in range(1, 65)])
                 / (sqrt(list_sum([x * x for x in ea.emb]))
                    * sqrt(list_sum([x * x for x in eb.emb]))), 6) AS sim
    FROM pairs p
    JOIN e ea ON ea.vec_id = p.vec_a
    JOIN e eb ON eb.vec_id = p.vec_b
    WHERE round(list_sum([ea.emb[i] * eb.emb[i] for i in range(1, 65)])
                 / (sqrt(list_sum([x * x for x in ea.emb]))
                    * sqrt(list_sum([x * x for x in eb.emb]))), 6) >= 0.2
    """,
)
def q28_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate detection at scale: random-hyperplane LSH,
    16 planes banded 2×8, multi-probe union of the two band buckets
    (reference near-dup semantics; LSH per Charikar'02).

    Scale design mirrors q25: (a) buckets above _LSH_BUCKET_CAP (64) members
    are dropped before pairing (stop-bucket skew guard — without it a
    fixed-width code degenerates to Θ(n²/buckets) pair generation; the
    8-bit band keys spread this corpus to ≤23-member buckets at every SF,
    so the cap never binds here — if a corpus ever pushes past it, adopt
    q25's star-linking so dense embedding families stay connected);
    (b) the pair join carries vec_ids only, embeddings re-attach after pair
    dedup so shuffle rows stay ~16 bytes; (c) cosine verify ≥ 0.2 runs once
    per deduped candidate pair.  Never O(n²)."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("emb")
    )
    band_cols = [
        F.struct(
            F.lit(bnd).alias("band_no"),
            F.expr(_hp_band_spark(bnd)).alias("key"),
        ).alias(f"b{bnd}")
        for bnd in range(_HP_BANDS)
    ]
    banded = (
        e.select("vec_id", F.explode(F.array(*band_cols)).alias("bk"))
        .select("vec_id", F.col("bk.band_no").alias("band_no"), F.col("bk.key").alias("key"))
    )
    bucket_sizes = banded.groupBy("band_no", "key").count()
    capped = banded.join(
        bucket_sizes.filter(F.col("count") <= _LSH_BUCKET_CAP), on=["band_no", "key"]
    ).select("vec_id", "band_no", "key")
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("b.vec_id") > F.col("a.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    verified = pairs.join(ea, "vec_a").join(eb, "vec_b")
    dot = F.expr("aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    norm = "sqrt(aggregate(transform({c}, x -> x * x), 0D, (acc, x) -> acc + x))"
    sim = F.round(dot / (F.expr(norm.format(c="ea")) * F.expr(norm.format(c="eb"))), 6)
    return (
        verified.select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= 0.2)
    )


# ---------------------------------------------------------------------------
# q29 — IVF-partitioned ANN (the 100 TB similarity-search scale path)
# ---------------------------------------------------------------------------

_N_CELLS = 8
_N_PROBE = 5
# Fitted IVF codebook: spherical k-means (seed 7, 40 iters) over the sf0.01
# embedding table, snapshotted by tools/fit_ivf_centroids.py so the Spark
# plan and the DuckDB oracle share byte-identical literals (the _MINHASH_A/_B
# pattern).  At real scale the identical fit runs as a Spark job over a
# deterministic sample — plans/ivf_fit.fit_ivf_centroids_spark, pinned
# byte-for-byte against this snapshot by tests/test_ivf_fit_spark.py — and
# the codebook is broadcast.  Multi-probe top-5 of 8 cells measured
# recall@3 = 1.0 by q47 at sf0.01 (vs 0.23 for the round-3 single-probe
# random codebook).
_CENTROIDS = [
    [-0.046959, -0.014749, -0.000719, -0.156507, 0.212503, 0.141909, -0.199517, 0.043690, -0.034701, 0.023873, -0.037989, -0.043058, 0.152603, -0.100245, 0.106589, 0.037214, -0.150900, 0.069774, 0.003767, -0.104718, 0.187524, -0.164160, 0.131036, -0.051011, -0.018558, 0.199439, -0.160243, 0.082533, -0.076619, -0.078186, -0.065623, -0.136520, -0.001632, 0.108609, 0.223970, -0.050561, -0.217129, 0.147360, 0.133186, -0.156817, -0.118605, -0.225832, 0.348481, 0.070302, -0.083798, 0.120007, -0.045415, -0.112569, 0.003655, -0.168156, -0.212510, 0.088033, -0.210584, 0.077594, 0.073307, 0.101767, 0.034529, -0.020006, 0.069737, -0.123222, -0.063727, 0.014006, 0.099685, -0.020701],
    [-0.029323, -0.033517, 0.144962, -0.159676, -0.126724, -0.028209, -0.120351, -0.073473, 0.062611, -0.144801, -0.060473, -0.071333, -0.122655, -0.007654, -0.196800, -0.081380, -0.085663, -0.156961, 0.124099, 0.100689, -0.237436, 0.248794, 0.050858, 0.029438, 0.102164, 0.166420, 0.233334, -0.041948, 0.090399, 0.165341, -0.057516, 0.037478, -0.144046, -0.111430, 0.075524, -0.058140, 0.075548, 0.070728, -0.080401, 0.019331, 0.086547, -0.007087, 0.023177, 0.116292, -0.233820, 0.104876, 0.073825, -0.283147, -0.164794, 0.199085, 0.075148, 0.034704, 0.289613, -0.082534, 0.000903, 0.153781, 0.020818, -0.122603, -0.244994, 0.007084, -0.000850, 0.066104, 0.067403, -0.041901],
    [0.136083, -0.189624, 0.138691, 0.136018, 0.266804, -0.116377, -0.281557, 0.037943, 0.010999, -0.060512, 0.024029, -0.007933, 0.034290, 0.074904, 0.190884, 0.107161, -0.013039, -0.285407, -0.289599, 0.135498, 0.111355, 0.003505, 0.099907, -0.010543, -0.085409, 0.109413, 0.011761, -0.107123, -0.124776, -0.040270, 0.086939, -0.010789, 0.015104, -0.004293, -0.037634, -0.031292, 0.092300, 0.008738, -0.072475, 0.069753, -0.182229, 0.010282, -0.147501, 0.073740, -0.002623, 0.023445, -0.046794, -0.151459, 0.120151, 0.089842, 0.083929, -0.009209, -0.032007, 0.117703, -0.241041, -0.220349, 0.309106, -0.055378, -0.002131, -0.023776, 0.131503, 0.018073, 0.032896, -0.210969],
    [0.089489, 0.143296, 0.005570, 0.118501, -0.069896, 0.107878, 0.012743, 0.383880, -0.137640, 0.099338, 0.159559, 0.156348, -0.157050, -0.064786, -0.160742, -0.074849, -0.124474, -0.008511, -0.163486, -0.050676, -0.183506, 0.052840, 0.008387, 0.140737, -0.058062, -0.040157, -0.044268, 0.009318, 0.100934, 0.072165, 0.324696, 0.099160, 0.144995, 0.057294, -0.007036, 0.069506, -0.131263, 0.024933, -0.038191, 0.064351, -0.179199, -0.132041, -0.113769, 0.139219, -0.086113, 0.049398, -0.011703, 0.260172, -0.139550, -0.010486, 0.233767, 0.075491, 0.043922, -0.043395, 0.045104, -0.090508, 0.026000, -0.172515, -0.113992, 0.003595, -0.000132, -0.226631, 0.005161, -0.120131],
    [0.034697, -0.105700, -0.023163, -0.005302, -0.073536, -0.030144, -0.067414, 0.015912, 0.135736, 0.201446, 0.056135, 0.114682, 0.062620, 0.093859, 0.007662, 0.087527, 0.007732, 0.270168, -0.068608, -0.018103, -0.128837, 0.172279, -0.021023, -0.257398, -0.037643, 0.047423, 0.114758, 0.202597, -0.064249, -0.051965, -0.069428, -0.156628, 0.052012, 0.020932, -0.010892, 0.331603, -0.064812, -0.167897, 0.104269, 0.001768, -0.043150, -0.054994, 0.029136, -0.180666, 0.011598, -0.162403, -0.117630, 0.271775, 0.067684, -0.041997, 0.009900, -0.180080, 0.026783, 0.073321, 0.132490, 0.173086, -0.237380, 0.019371, -0.011979, -0.241771, -0.008279, 0.156647, -0.185367, -0.138665],
    [-0.113558, -0.061365, 0.058003, -0.054990, 0.016150, 0.125641, 0.042343, 0.087198, -0.088085, 0.182582, 0.029966, 0.082101, 0.073435, -0.226706, 0.086597, -0.135364, 0.254949, -0.099788, 0.167642, -0.011707, 0.075506, -0.001688, -0.195325, 0.078032, 0.175629, 0.239289, 0.137246, 0.022707, 0.003302, -0.036171, -0.090653, 0.021797, 0.233114, -0.026043, -0.074922, -0.066797, -0.010835, -0.039232, 0.007785, -0.145839, 0.196151, -0.107767, -0.182543, -0.109262, -0.083548, -0.087882, 0.002098, -0.002914, 0.020506, -0.179903, 0.018774, -0.143581, 0.038685, -0.127017, -0.148587, -0.060564, 0.157360, 0.221364, 0.144736, 0.014964, -0.097257, 0.179439, -0.342732, -0.014695],
    [-0.026246, 0.022226, -0.203248, 0.094651, -0.001254, -0.186209, 0.151744, -0.146867, 0.066631, -0.222114, -0.082972, 0.039394, -0.115547, 0.263353, -0.017126, 0.055133, 0.203665, 0.125940, 0.063869, -0.034676, 0.071541, 0.017172, 0.092741, -0.084690, -0.080620, -0.057367, -0.330962, 0.014377, -0.146236, -0.097907, -0.100019, 0.001740, -0.159858, -0.157953, -0.006402, -0.156287, 0.082597, -0.104254, -0.060937, 0.143773, 0.123325, 0.250940, -0.133318, -0.225585, 0.166475, 0.077360, 0.122298, 0.101954, -0.191731, -0.149755, 0.030484, 0.179975, 0.083335, -0.100357, 0.068722, -0.089979, -0.043544, 0.003900, 0.088986, -0.034854, -0.007214, -0.000342, 0.133886, -0.049038],
    [0.029941, 0.080413, 0.023028, -0.132450, 0.129141, 0.205262, -0.129647, -0.151815, -0.080094, -0.163253, 0.082008, -0.241264, 0.016225, 0.048273, 0.017459, 0.223865, -0.004427, 0.219086, 0.149587, 0.055952, 0.036858, -0.312898, -0.022442, -0.092348, -0.064335, -0.314904, -0.003223, 0.104952, 0.184124, 0.085182, 0.123772, -0.033719, 0.074883, -0.099524, -0.006792, -0.044133, 0.059409, 0.037662, -0.037596, -0.030389, 0.066122, -0.064105, 0.224589, 0.135730, -0.023031, 0.003790, 0.010341, -0.005527, 0.230669, -0.002724, 0.008423, -0.091070, -0.027625, -0.005759, 0.185517, -0.100658, -0.088332, 0.060392, -0.080458, 0.178900, 0.068341, -0.052723, 0.217341, 0.238246],
]

# Per-corpus codebooks: an IVF codebook is an artifact OF a corpus — at
# production scale each dataset gets its own fit (q48 monitors drift to
# schedule re-fits).  The sf0.01 snapshot above (K=8, probe 5) is the one
# the DuckDB oracles share, since the driver's correctness gate runs at
# sf0.01.  The sf0.1 corpus (2 000 near-uniform synthetic vectors) needs
# finer partitioning to hold recall at the same ~62% scan fraction, so its
# snapshot is K=24 / probe 15 — measured recall@3 = 0.925 at sf0.1 (vs
# 0.83 when the sf0.01 codebook is reused there), CI-gated >= 0.9 at BOTH
# scales by tests/test_contract_gates.py.  Both snapshots come from the
# SAME deterministic fit: tools/fit_ivf_centroids.py and the distributed
# plans/ivf_fit.fit_ivf_centroids_spark agree byte-for-byte
# (tests/test_ivf_fit_spark.py).  Honest limit, restated: these synthetic
# embeddings are near-uniform on the sphere, so recall is scan-fraction-
# bound — ~62% scan is what 0.9+ recall costs HERE; real clustered
# embeddings prune far harder at equal recall.
_CENTROIDS_SF0_1 = [
    [-0.022576, 0.101992, 0.044157, -0.124455, -0.046750, 0.290796, 0.199149, 0.078406, 0.070713, 0.087876, 0.072197, 0.084275, 0.084922, -0.030464, 0.238855, -0.158252, -0.198754, 0.153389, 0.076347, -0.166689, -0.050346, 0.155475, 0.090776, 0.009614, 0.141967, -0.014615, 0.188489, -0.178716, 0.109786, -0.097267, -0.228440, 0.027404, 0.074584, 0.025647, -0.033823, 0.113182, -0.061572, 0.060343, -0.075826, -0.196994, 0.046872, -0.092001, 0.161344, -0.130391, -0.117021, -0.046095, -0.134647, 0.029154, 0.116367, -0.151076, 0.174527, 0.096540, -0.032398, 0.141443, 0.038444, 0.242889, 0.202108, 0.021537, 0.173712, -0.008720, -0.050439, -0.120323, 0.020381, 0.150066],
    [0.028231, -0.014533, -0.154780, -0.117494, 0.235335, -0.192190, 0.012468, 0.014723, 0.037024, 0.194838, 0.047627, -0.040362, 0.028238, 0.004379, -0.093935, -0.043447, 0.187535, 0.011248, 0.093556, -0.116619, -0.260175, -0.001434, 0.242962, -0.113118, -0.337742, -0.061829, 0.044299, 0.135049, -0.041661, -0.006081, -0.014358, -0.260693, 0.024553, 0.018466, -0.108731, -0.238330, -0.150238, -0.228969, -0.087443, -0.083633, 0.098790, 0.156808, 0.100606, -0.056206, -0.036264, -0.053275, 0.010670, -0.106043, -0.099643, -0.073604, 0.057060, -0.047827, -0.189846, 0.030598, -0.236963, -0.111993, 0.078793, 0.029342, 0.160943, -0.071986, -0.007261, -0.006500, 0.058894, -0.133988],
    [0.093990, -0.137960, -0.246690, 0.207802, -0.031255, -0.096558, 0.011883, -0.095560, 0.137412, 0.022422, -0.039549, -0.190027, -0.037359, 0.022202, 0.077152, 0.284547, 0.055344, 0.095382, 0.036877, -0.177107, 0.300586, 0.021215, 0.160031, 0.170309, -0.063405, 0.002910, -0.041227, 0.112381, -0.210419, 0.024443, 0.154865, -0.018459, -0.005482, -0.040716, 0.217205, -0.042408, 0.033495, -0.059663, 0.126344, -0.119858, 0.054720, -0.122314, 0.017042, -0.008766, 0.155484, 0.072740, 0.109329, -0.051172, 0.007836, 0.060280, -0.124059, 0.281238, 0.236972, 0.051562, -0.071310, 0.135017, 0.139283, -0.170825, 0.082098, 0.015383, 0.038870, 0.137102, -0.137252, -0.041803],
    [-0.040203, 0.058207, -0.094581, 0.189650, -0.052678, -0.238378, 0.027594, 0.015637, 0.246987, -0.032149, -0.083656, 0.143632, 0.029674, -0.002128, -0.036082, -0.139213, 0.117379, -0.024651, -0.240766, 0.036870, 0.068223, -0.243348, -0.207900, -0.086983, 0.230581, -0.050554, 0.038040, -0.003595, 0.036986, 0.088518, 0.029789, -0.020799, 0.145880, 0.168550, -0.058286, -0.052476, -0.135834, 0.036039, -0.204646, 0.045278, 0.020634, -0.259854, 0.171692, 0.034170, -0.043045, 0.007625, 0.190577, 0.157402, -0.002499, -0.023506, -0.060375, 0.024664, 0.193484, -0.140510, -0.195841, -0.097560, -0.108429, 0.265740, -0.080942, -0.067503, -0.006365, -0.165811, 0.093035, 0.038836],
    [0.004805, 0.058439, -0.028744, 0.009440, 0.025504, -0.196536, 0.082631, 0.078452, -0.111572, -0.057863, 0.095131, 0.051387, -0.197428, 0.004014, -0.072256, 0.301012, 0.158597, 0.255071, 0.047253, 0.038376, -0.180804, 0.064617, -0.078415, -0.063839, 0.015327, 0.064278, -0.084497, -0.178461, 0.098659, 0.071677, -0.230184, 0.077018, -0.066514, -0.011661, -0.163339, -0.118910, -0.045757, 0.111435, -0.125215, 0.076235, 0.088813, 0.069268, -0.156299, -0.017287, 0.180954, -0.111495, 0.061836, 0.150970, 0.055642, -0.002111, -0.185497, 0.016988, -0.048581, -0.183309, 0.032686, 0.125296, -0.022449, 0.058637, -0.176909, 0.053001, 0.073448, 0.335767, 0.154720, 0.248376],
    [0.023912, -0.193277, -0.049110, 0.097786, 0.051561, 0.141521, 0.125010, 0.197152, 0.160872, -0.135887, -0.134128, 0.277198, -0.069655, 0.062759, 0.062803, 0.018663, -0.088528, -0.015380, -0.150630, -0.044365, -0.312172, 0.087517, 0.113810, 0.105612, 0.198034, 0.113186, -0.084051, -0.036485, -0.057355, -0.070069, -0.003938, 0.027676, -0.075845, 0.114063, -0.063967, -0.042038, 0.018479, 0.038128, 0.190442, 0.129240, -0.206428, 0.174538, -0.105204, 0.022720, 0.219959, 0.039454, 0.076065, -0.118874, -0.027245, -0.022129, 0.048311, -0.150595, -0.217392, 0.064061, -0.052525, -0.091465, -0.295614, 0.014345, 0.203561, 0.152499, -0.032912, -0.085434, 0.003683, -0.077368],
    [0.032564, 0.171878, 0.031800, -0.122811, -0.151039, 0.067229, 0.157276, 0.177957, -0.193472, 0.120495, 0.006196, 0.104056, -0.069568, 0.033612, -0.289827, -0.108373, -0.125740, -0.298915, 0.073136, 0.126628, 0.119239, 0.040719, 0.098880, 0.039783, -0.113537, -0.010656, -0.111580, -0.180157, -0.322316, -0.056900, 0.102129, 0.002467, 0.090669, 0.063904, -0.225420, -0.058635, 0.128774, -0.127365, -0.061474, -0.130097, -0.137220, -0.013981, 0.179865, 0.034488, 0.112339, -0.009343, 0.108587, 0.078343, 0.136674, -0.063774, 0.074520, -0.008230, 0.148183, -0.110151, -0.008852, 0.015790, 0.173925, 0.056194, 0.002219, 0.020509, 0.064674, -0.253853, 0.048694, -0.070007],
    [0.049669, -0.045534, 0.196515, -0.150805, 0.214925, -0.010139, -0.052191, 0.134464, 0.087760, 0.042141, -0.056979, 0.019217, -0.022631, -0.135888, -0.095452, 0.335417, -0.143953, -0.096245, -0.113923, 0.179962, 0.155142, -0.139628, 0.135907, 0.140183, -0.004268, -0.107295, 0.040406, -0.197115, 0.160892, 0.018402, -0.067363, -0.183586, -0.097069, -0.113424, 0.066918, 0.058050, 0.063815, 0.071511, 0.041196, -0.168768, -0.047282, 0.036177, -0.105624, 0.037921, -0.047947, 0.003981, 0.089641, -0.139546, 0.020593, -0.028186, -0.084714, 0.088379, -0.204215, 0.067634, 0.297276, 0.103284, -0.224074, 0.017992, -0.060214, -0.118537, 0.012195, -0.271603, -0.098863, 0.104419],
    [0.024883, -0.020250, -0.240307, -0.078295, 0.170740, -0.052355, -0.354108, 0.003829, 0.197636, 0.160063, -0.034047, -0.020147, 0.126437, 0.012089, 0.113225, -0.065206, 0.120883, -0.160467, 0.142311, 0.142572, 0.002323, 0.083336, 0.000177, -0.028089, 0.044053, -0.065034, 0.262715, 0.095152, -0.088474, -0.193772, 0.059129, 0.200602, -0.056222, -0.035484, -0.081017, -0.159418, 0.050394, -0.019801, 0.141700, -0.061007, 0.050460, -0.061626, -0.146749, 0.116811, -0.010921, -0.045018, -0.121201, -0.089395, 0.079903, 0.033480, 0.239533, 0.048338, -0.019703, -0.065713, -0.086193, -0.027636, -0.055156, 0.069579, 0.030256, -0.046431, 0.124494, 0.171532, 0.168957, 0.349694],
    [-0.027742, -0.107945, 0.204450, 0.065254, -0.122823, 0.033393, 0.097551, 0.067687, -0.083208, -0.026003, 0.157236, 0.002495, 0.084015, 0.087133, -0.200431, 0.194577, -0.031081, -0.011068, 0.027661, -0.115671, -0.199243, -0.024804, -0.277359, -0.017635, -0.102347, -0.013018, -0.094088, 0.080546, 0.086365, 0.253992, -0.044980, 0.037111, 0.139956, 0.214627, 0.232479, -0.117811, 0.045979, -0.032868, 0.015283, 0.143401, -0.002799, -0.090623, 0.123958, 0.064502, 0.027823, 0.050894, -0.246379, 0.001668, 0.099665, 0.178315, 0.045302, 0.275827, -0.109994, 0.043099, 0.015160, -0.058518, -0.065282, 0.050248, 0.111798, -0.088486, 0.269752, 0.104120, -0.110214, -0.205765],
    [0.172073, 0.239219, 0.022919, -0.056555, 0.048531, -0.075640, 0.001010, -0.116280, 0.088191, -0.138050, -0.210425, 0.047784, -0.105511, 0.081002, 0.042867, 0.000326, 0.002199, -0.105180, -0.154815, 0.027095, 0.123155, -0.240888, -0.246837, -0.111194, -0.101730, 0.130229, -0.177691, 0.008996, -0.081627, 0.018542, -0.215071, 0.150953, -0.110958, 0.008763, 0.006630, 0.219428, 0.041723, -0.171305, 0.117671, -0.197966, -0.136718, 0.114811, 0.114678, 0.007706, -0.142604, -0.037389, -0.055908, -0.143412, -0.076216, -0.175292, -0.106393, -0.181485, -0.036510, -0.147160, 0.165020, -0.000008, 0.121521, -0.110402, 0.007104, -0.209141, -0.073762, 0.069167, 0.063569, -0.162491],
    [-0.041352, 0.047491, 0.039270, 0.004541, 0.040326, 0.151165, 0.286089, -0.130560, -0.004562, -0.301502, -0.156112, 0.115613, 0.085013, -0.072262, -0.141087, 0.008211, 0.050556, -0.053319, 0.019613, 0.089266, -0.098789, -0.141212, 0.093533, -0.122554, 0.052375, -0.006217, 0.187330, 0.007094, -0.159211, -0.008775, 0.082315, 0.073234, 0.191750, -0.047747, -0.005684, -0.223550, -0.014883, 0.102439, -0.104549, -0.027926, 0.046488, -0.181447, 0.052473, -0.079371, -0.192905, -0.169933, -0.173653, -0.003767, -0.079990, -0.287877, 0.056777, -0.014976, -0.188795, 0.085861, -0.227046, -0.062934, -0.058868, -0.009741, -0.096750, 0.111023, -0.040433, 0.297633, 0.067372, -0.064654],
    [0.058850, -0.032261, 0.028626, -0.147410, -0.169888, 0.019171, 0.059374, 0.176330, -0.047005, -0.012928, -0.049398, -0.033801, -0.263020, -0.183841, 0.032175, -0.094482, -0.055825, -0.065737, 0.208794, -0.189850, -0.160909, 0.156494, -0.161538, 0.059921, 0.088776, -0.409631, 0.230735, 0.042744, 0.139834, 0.087458, 0.056724, -0.002657, -0.004753, 0.065393, 0.203346, -0.074555, 0.025802, -0.017539, 0.144700, 0.100756, 0.065903, -0.004683, 0.002058, 0.131285, 0.045634, -0.033301, 0.145905, -0.019902, 0.156241, -0.091735, -0.021894, 0.004067, 0.059212, -0.087422, 0.062319, -0.076844, 0.164044, 0.014747, 0.053561, 0.025637, -0.339494, -0.044757, -0.060600, -0.162144],
    [0.231022, 0.099911, 0.009598, 0.109955, -0.116738, -0.130751, -0.105808, -0.006155, 0.203566, 0.199197, -0.144662, -0.112602, -0.231539, -0.024143, -0.084435, -0.254032, -0.027689, 0.103559, 0.152889, -0.039352, -0.076550, -0.085041, -0.056780, 0.127380, -0.033287, 0.248165, -0.190057, 0.004763, -0.096582, 0.098089, -0.161732, -0.054337, 0.204308, 0.011840, 0.176578, 0.036022, 0.012896, 0.212147, -0.036609, 0.039466, 0.012331, 0.128679, 0.161019, 0.204671, -0.114617, -0.128052, 0.039125, -0.036173, -0.194252, 0.077249, 0.071310, 0.026871, -0.009656, -0.001915, 0.196291, 0.022197, 0.004365, -0.072022, -0.115383, -0.102402, -0.156607, -0.085273, -0.020788, 0.192041],
    [0.018550, -0.094124, 0.119389, 0.053677, -0.132612, 0.068733, -0.016293, 0.162533, -0.287504, -0.032211, -0.113615, 0.073280, 0.074999, 0.064192, -0.028515, -0.169674, 0.094606, 0.153041, 0.093046, 0.047285, -0.059544, -0.105787, -0.026156, 0.100553, 0.296288, 0.157869, 0.064929, -0.027050, -0.007172, 0.102418, 0.094909, -0.022458, -0.162191, 0.090074, -0.014480, -0.018926, 0.106453, -0.186222, 0.008352, -0.197852, -0.061389, 0.122968, -0.060871, 0.184701, -0.208984, 0.029779, -0.303823, -0.030277, -0.013290, 0.081378, -0.252866, 0.007117, 0.045227, -0.116285, 0.150041, -0.145978, -0.086540, -0.013036, 0.019108, 0.091546, -0.049498, -0.134116, 0.295069, 0.089684],
    [-0.172254, 0.048789, -0.014615, 0.000666, -0.214362, -0.029399, -0.251792, -0.201647, -0.180207, -0.098028, 0.020788, 0.034831, -0.123844, 0.119461, 0.040135, -0.003401, -0.076507, 0.028114, 0.070677, 0.205249, -0.107393, -0.040820, 0.104664, -0.043572, -0.035959, -0.083955, -0.035020, 0.018489, 0.236857, -0.091381, 0.094521, 0.105348, -0.189489, 0.083000, -0.008027, 0.038658, -0.146367, 0.156339, 0.201268, -0.298211, -0.061111, -0.122550, -0.084972, -0.189203, 0.096067, 0.096862, 0.025640, 0.143154, -0.133915, 0.188538, 0.296471, 0.018692, -0.026668, -0.029047, -0.085588, 0.088946, -0.034594, 0.128520, 0.068266, -0.027955, -0.219761, -0.095959, 0.066789, 0.053469],
    [-0.166664, -0.102297, -0.046932, -0.125111, 0.218918, 0.023257, 0.030710, -0.128684, 0.010601, 0.069874, 0.275978, 0.236510, -0.112894, 0.132145, 0.112618, -0.040972, -0.122948, -0.112128, -0.056066, -0.013912, 0.049684, 0.132833, 0.116748, -0.038279, 0.045311, -0.081527, 0.066643, 0.094920, -0.083938, -0.125886, 0.176212, 0.144779, 0.265527, 0.173528, -0.002711, 0.226355, 0.039246, 0.066154, 0.034959, 0.278402, -0.127095, -0.097302, -0.021313, -0.045299, 0.203618, 0.019962, -0.011822, -0.133190, -0.214159, 0.129612, -0.042772, 0.059558, 0.121510, -0.015640, 0.209607, 0.008470, 0.230875, -0.009728, 0.001158, -0.097134, -0.027356, 0.049306, -0.046363, 0.115715],
    [-0.016034, 0.028386, 0.043498, -0.000519, -0.030765, 0.053409, -0.072032, 0.080009, -0.186822, -0.025687, 0.151732, -0.203097, -0.219430, -0.086000, 0.161053, -0.019918, -0.066656, 0.109568, -0.150483, 0.197404, 0.086166, 0.149933, -0.010942, -0.074630, -0.238246, 0.068784, 0.015298, -0.003595, 0.099775, 0.093882, -0.011351, 0.124405, -0.068884, -0.102118, 0.106268, 0.011560, -0.219051, -0.111497, -0.138769, 0.220397, -0.111614, -0.114360, -0.121422, 0.116155, -0.229208, -0.112160, 0.048326, -0.261035, 0.234804, -0.011230, 0.145267, -0.052801, 0.030125, -0.013119, -0.154774, -0.239662, -0.109374, -0.085049, -0.005228, 0.074975, 0.170412, -0.006505, -0.170333, -0.037447],
    [-0.226223, -0.049642, 0.031065, -0.021834, -0.101380, -0.205455, -0.138915, 0.010156, 0.048516, -0.014120, 0.036167, -0.092879, -0.028892, -0.135647, 0.001253, -0.102978, 0.148396, -0.142351, 0.047932, 0.064466, 0.170409, -0.018638, 0.206452, -0.255755, 0.123296, 0.063449, -0.173702, -0.029417, 0.132121, 0.083172, -0.015501, 0.183333, -0.047129, -0.216602, -0.133163, 0.107465, 0.057109, -0.099370, -0.102798, 0.179456, 0.154863, -0.031624, -0.125851, -0.185203, 0.254378, 0.180669, -0.043070, 0.104175, 0.160479, 0.113526, -0.068672, -0.207529, -0.044946, 0.124224, -0.025344, -0.066633, -0.011455, -0.144556, 0.226295, -0.077000, -0.008074, -0.024738, -0.166135, 0.033766],
    [0.064598, 0.079490, 0.025040, 0.162794, -0.054636, 0.050404, 0.145580, -0.062842, -0.084887, -0.201280, 0.048621, 0.139903, 0.022064, 0.088375, -0.311664, 0.050745, -0.035701, 0.095357, -0.024870, -0.049045, 0.001779, 0.041430, 0.027752, -0.139626, 0.104650, 0.028326, 0.117040, 0.148589, 0.130510, -0.207973, -0.116214, -0.113815, 0.022141, -0.135798, -0.108467, 0.101677, 0.256015, -0.022907, -0.052935, -0.056957, 0.050310, -0.068948, -0.055829, 0.276449, -0.126912, -0.045865, 0.118998, -0.095191, 0.237637, 0.238178, -0.259311, -0.079391, -0.072024, 0.005583, -0.045802, 0.032225, -0.046902, -0.218113, 0.022625, -0.017952, 0.116982, -0.070687, -0.280358, -0.000328],
    [0.021653, 0.001953, 0.136403, -0.108364, 0.173516, 0.075767, 0.061724, -0.057401, 0.075607, -0.030080, 0.135968, 0.165646, -0.039133, 0.295884, 0.107743, 0.056201, 0.051919, -0.195363, -0.076254, -0.009184, 0.166020, 0.005436, 0.048188, 0.040292, -0.032852, 0.062580, 0.191306, -0.000171, -0.218197, 0.002491, -0.064807, -0.013866, -0.027458, -0.068549, 0.179648, 0.020090, -0.207926, 0.003885, 0.157330, 0.049038, 0.205250, 0.119915, 0.184455, -0.250635, 0.093733, 0.016173, 0.133754, -0.023213, 0.205376, 0.036118, -0.000157, -0.297136, 0.097972, 0.100496, -0.029914, -0.015319, -0.088863, 0.088537, -0.291825, -0.070575, -0.161259, -0.027030, 0.108929, -0.107196],
    [-0.222297, 0.105280, -0.019428, -0.077720, -0.169224, 0.131244, 0.078642, 0.041797, -0.036674, 0.130859, -0.011894, -0.094721, 0.089822, 0.132271, 0.045587, 0.013183, -0.032924, -0.162335, 0.042687, 0.141118, -0.006249, -0.153705, 0.136057, 0.042983, -0.122833, 0.104059, -0.180059, -0.144256, 0.036082, -0.079170, -0.015377, -0.364352, 0.029896, -0.032509, 0.054911, 0.178804, -0.130487, -0.064410, -0.109190, 0.208534, 0.087827, 0.081417, -0.208717, 0.154808, 0.093666, -0.097615, -0.034370, 0.205750, -0.264049, -0.121846, 0.000710, -0.019517, -0.169032, -0.069665, -0.179956, -0.014679, 0.216034, -0.019204, 0.175711, 0.104672, 0.073426, 0.003260, 0.084235, -0.037913],
    [0.099253, -0.018805, -0.003998, 0.028187, 0.069757, 0.023642, -0.027250, -0.146634, -0.049446, 0.021747, -0.100915, -0.010484, 0.333283, 0.019880, -0.055329, -0.037244, -0.183890, 0.149056, 0.023541, 0.143726, 0.101522, 0.014714, -0.101835, -0.002243, -0.142022, -0.083631, -0.113581, 0.143411, -0.016204, 0.134754, 0.087640, 0.084252, -0.234549, -0.277378, 0.222347, 0.096819, 0.340331, 0.120518, -0.049106, 0.051283, -0.017026, 0.061977, -0.200525, 0.003322, -0.043647, 0.109312, 0.193301, 0.187785, 0.140474, -0.108853, -0.078378, -0.059094, 0.114958, 0.028052, 0.003774, 0.055135, -0.079573, 0.147943, 0.025045, 0.107005, -0.065134, 0.171366, 0.058843, -0.218120],
    [0.081233, -0.051626, -0.073735, -0.050235, 0.120590, 0.171487, -0.094043, -0.252511, 0.116003, 0.066803, 0.102812, -0.130995, 0.009094, -0.132313, 0.142338, -0.282571, 0.053708, 0.094482, -0.057617, -0.137248, 0.057701, 0.070046, -0.272110, -0.005235, 0.046241, -0.143321, -0.004867, -0.040479, -0.020050, -0.243592, -0.033001, -0.008085, -0.224849, 0.062638, -0.195657, 0.003945, 0.160011, -0.092665, 0.100264, -0.007956, -0.060012, -0.055558, 0.134985, -0.134596, -0.108051, 0.038607, -0.051649, 0.053210, -0.243644, 0.071241, -0.067759, -0.043969, 0.090971, -0.041437, 0.134410, -0.173267, -0.010909, 0.189439, -0.242955, -0.017007, 0.208753, -0.008587, -0.083367, -0.166203],
]
_N_PROBE_SF0_1 = 15

_CODEBOOKS = {"sf0.1": (_CENTROIDS_SF0_1, _N_PROBE_SF0_1)}


def _codebook(sf_dir: str) -> tuple:
    """(centroids, n_probe) for the corpus at ``sf_dir`` — the snapshot
    fit ON that corpus, defaulting to the sf0.01 codebook the oracles
    share."""
    base = os.path.basename(os.path.normpath(sf_dir))
    return _CODEBOOKS.get(base, (_CENTROIDS, _N_PROBE))



def _ivf_dots_duck(col: str, cents=None) -> str:
    """List of dot products of `col` against every centroid (DuckDB).
    ``cents`` defaults to the sf0.01 snapshot; pass the per-corpus
    codebook (``_codebook(sf_dir)[0]``) when building an oracle for
    another scale factor."""
    per = []
    for c in (_CENTROIDS if cents is None else cents):
        lst = "[" + ", ".join(f"{x}" for x in c) + "]::DOUBLE[]"
        per.append(f"list_sum([{col}[i] * ({lst})[i] for i in range(1, 65)])")
    return "[" + ",\n            ".join(per) + "]"


def _ivf_dots_spark(col: str, centroids=None) -> str:
    per = []
    for c in (_CENTROIDS if centroids is None else centroids):
        lst = "array(" + ", ".join(f"{x}D" for x in c) + ")"
        per.append(
            f"aggregate(zip_with({col}, {lst}, (x, y) -> x * y), 0D, (a, x) -> a + x)"
        )
    return "array(" + ",\n            ".join(per) + ")"


# centroid ids ordered by descending dot product, ties -> lowest id; both
# engines sort (negated dot, id) structs so the order is bit-identical
def _probe_order_duck(n_cells: int = _N_CELLS) -> str:
    return (
        "[s.j for s in list_sort("
        f"[{{'nd': -dots[j + 1], 'j': j}} for j in range(0, {n_cells})])]"
    )


_PROBE_ORDER_DUCK = _probe_order_duck()


def _probe_order_spark(n_cells: int = _N_CELLS) -> str:
    return (
        f"transform(array_sort(zip_with(dots, sequence(0, {n_cells - 1}), "
        "(d, j) -> named_struct('nd', -d, 'j', j))), s -> s.j)"
    )


def _q29_oracle(sf_dir: str) -> str:
    """Oracle factory: baked with the SAME per-corpus codebook/probe the
    Spark plan selects via ``_codebook(sf_dir)``, so a correctness run at
    sf0.1 compares against the sf0.1 parameters, not the sf0.01 snapshot."""
    cents, n_probe = _codebook(sf_dir)
    pod = _probe_order_duck(len(cents))
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), d AS (
        SELECT vec_id, emb, {_ivf_dots_duck('emb', cents)} AS dots FROM e
    ), cells AS (
        SELECT vec_id, emb, ({pod})[1] AS cell FROM d
    ), q AS (
        SELECT vec_id AS query_id, emb AS qe,
               ({pod})[1:{n_probe}] AS probe
        FROM d WHERE vec_id % 50 = 0
    ), qp AS (
        SELECT query_id, qe, unnest(probe) AS pcell FROM q
    ), sims AS (
        SELECT qp.query_id, c.vec_id AS neighbor_id, c.cell,
               round(list_sum([qp.qe[i] * c.emb[i] for i in range(1, 65)])
                     / (sqrt(list_sum([x * x for x in qp.qe]))
                        * sqrt(list_sum([x * x for x in c.emb]))), 6) AS sim
        FROM qp JOIN cells c ON c.cell = qp.pcell AND c.vec_id <> qp.query_id
    )
    SELECT query_id, neighbor_id, cell, sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims
    ) WHERE rank <= 3
    """


@_register("q29_ivf_ann", oracle=_q29_oracle)
def q29_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned approximate nearest neighbor — the scale path past
    q27's brute force.  Every vector is assigned to its best coarse centroid
    (argmax dot product over the broadcast fitted codebook, pure JVM
    higher-order functions); queries multi-probe their top-`_N_PROBE` cells
    by query-centroid dot product and exact cosine runs only inside probed
    cells.  The codebook is a spherical k-means fit snapshotted by
    tools/fit_ivf_centroids.py — the difference between ANN machinery and an
    ANN index (q47 measures recall@3 = 1.0 at sf0.01; the round-3 unfitted
    single-probe codebook measured 0.23).  The codebook is per-corpus
    (``_codebook``): sf0.1 uses its own K=24 / probe-15 snapshot, holding
    recall@3 = 0.925 at the same ~62% scan fraction (the sf0.01 codebook
    reused there measured 0.83); both scales are CI-gated >= 0.9.  Honest
    limits: these synthetic embeddings are near-uniform on the sphere
    (random-pair cosine ≈ 0), so recall is scan-fraction-bound here; real
    clustered embeddings prune far harder at equal recall.  q48 reports
    the per-cell balance/fit stats an operator watches to schedule re-fits.

    Scale shape: the corpus is touched once, shuffles once on cell id; the
    exploded (query, probe-cell) side is tiny (|Q| x `_N_PROBE`) and
    BROADCAST, so candidate work per query is the probed cells only.  At
    100 TB the cell id becomes the table's physical partitioning so probes
    prune files, and the codebook fit is the sampled k-means Spark job in
    ``plans/ivf_fit.py`` (reproduces this literal table byte-for-byte at
    sf0.01 — tests/test_ivf_fit_spark.py).

    The hit table is a session-shared materialized intermediate (the q25
    pattern): q47's recall evaluation reuses it instead of re-running the
    index pass."""
    return _shared_checkpoint(
        spark, sf_dir, "q29_ivf_ann", lambda: _q29_build(spark, sf_dir)
    )


def _q29_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents, n_probe = _codebook(sf_dir)
    po = _probe_order_spark(len(cents))
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("emb")
    )
    d = e.withColumn("dots", F.expr(_ivf_dots_spark("emb", cents)))
    # norms are per-VECTOR, so compute them once per row on each join input
    # instead of once per candidate PAIR (a corpus vector is scored against
    # ~|Q|*n_probe/n_cells queries, a query against ~n_probe cell
    # populations) — identical arithmetic on identical operands, just not
    # repeated (guide §2.3 "project before the exchange"); bit-identical
    norm = "sqrt(aggregate(transform({c}, x -> x * x), 0D, (a, x) -> a + x))"
    # materialize corpus/query sides once (q78/q51's barrier rule, r15):
    # both derive from d, so without it the scan→cast→dots subtree is
    # planted under each
    cells = materialize(
        d.select(
            "vec_id",
            "emb",
            F.expr(f"element_at({po}, 1)").alias("cell"),
            F.expr(norm.format(c="emb")).alias("nemb"),
        ),
        eager=False,
    )
    q = materialize(
        d.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qe"),
            F.expr(f"slice({po}, 1, {n_probe})").alias("probe"),
            F.expr(norm.format(c="emb")).alias("nqe"),
        ),
        eager=False,
    )
    qp = q.select("query_id", "qe", "nqe", F.explode("probe").alias("pcell"))
    dot = F.expr("aggregate(zip_with(qe, emb, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    sim = F.round(dot / (F.col("nqe") * F.col("nemb")), 6)
    # a vector lives in exactly one cell and probe cells are distinct, so the
    # explode-join cannot duplicate (query, neighbor) pairs
    sims = (
        F.broadcast(qp)
        .join(cells, (cells.cell == qp.pcell) & (cells.vec_id != qp.query_id))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            sim.alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "cell", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# q34 — BPE-ish regex token counting
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenizer, restricted to the regex subset where Java
# (Spark) and RE2 (DuckDB) agree: contraction suffixes, letter runs, digit
# runs, punctuation runs, bare-apostrophe runs.  No lookarounds, no \p
# classes.
_BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s']+|'+"


@_register(
    "q34_bpe_token_count",
    oracle=f"""
    WITH bt AS (
        SELECT doc_id, n_chars,
               regexp_extract_all(text, '{_BPE_PATTERN.replace("'", "''")}') AS t
        FROM documents
    )
    SELECT doc_id,
           len(t)::INT AS n_bpe_tokens,
           len(list_distinct(t))::INT AS n_distinct_bpe,
           n_chars::DOUBLE / len(t) AS chars_per_token
    FROM bt WHERE len(t) > 0
    """,
)
def q34_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex — the tokens-per-
    document / chars-per-token measures a pretraining pipeline budgets with.
    `regexp_extract_all` is JVM-side (whole-stage codegen), no Python."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))
    n_tok = F.size(t)
    return (
        docs.select(
            "doc_id",
            n_tok.alias("n_bpe_tokens"),
            F.size(F.array_distinct(t)).alias("n_distinct_bpe"),
            (F.col("n_chars").cast("double") / n_tok).alias("chars_per_token"),
        )
        .filter(F.col("n_bpe_tokens") > 0)
    )


# ---------------------------------------------------------------------------
# q39 — winnowing document fingerprints (rolling-hash k-grams, min-in-window)
# ---------------------------------------------------------------------------

_WIN_K = 3  # tokens per k-gram
_WIN_W = 4  # grams per winnowing window


@_register(
    "q39_winnow_fingerprints",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKENS_SQL_DUCK} AS toks FROM documents
    ), g AS (
        SELECT doc_id, i AS pos,
               ('0x' || substr(md5(concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])), 1, 8))::UBIGINT::BIGINT AS h
        FROM t, unnest(generate_series(0, len(toks) - {_WIN_K})) AS u(i)
        WHERE len(toks) >= {_WIN_K}
    ), w AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp,
               count(*) OVER (PARTITION BY doc_id) AS m
        FROM g
    )
    SELECT DISTINCT doc_id, fp AS fingerprint
    FROM w WHERE pos <= m - {_WIN_W} OR (m < {_WIN_W} AND pos = 0)
    """,
)
def q39_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer/Wilkerson/Aiken):
    hash every {k}-token gram, slide a {w}-gram window, keep each window's
    minimum — the standard near-dup/plagiarism fingerprint set.

    Scale shape: the whole gram/window pipeline is ARRAY-side per document
    (higher-order transform + slice + array_min inside whole-stage codegen)
    — narrow until the final distinct; the oracle restates it relationally
    with an explode + window-min, so a hash match cross-checks the two
    formulations.  Shorter-than-window docs contribute min-of-all-grams."""
    docs = load_table(spark, sf_dir, "documents")
    gram_hash = (
        "transform(sequence(0, size(toks) - {k}), i -> "
        "cast(conv(substr(md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])), 1, 8), 16, 10) as bigint))"
    ).format(k=_WIN_K)
    windows = (
        "case when size(hs) >= {w} then "
        "transform(sequence(0, size(hs) - {w}), j -> array_min(slice(hs, j + 1, {w}))) "
        "else array(array_min(hs)) end"
    ).format(w=_WIN_W)
    return (
        docs.select("doc_id", F.expr(_TOKENS_EXPR_SPARK).alias("toks"))
        .filter(F.size("toks") >= _WIN_K)
        .select("doc_id", F.expr(gram_hash).alias("hs"))
        .select("doc_id", F.explode(F.expr(windows)).alias("fingerprint"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# q40 — composite document quality filter (Gopher-style heuristic rules)
# ---------------------------------------------------------------------------

_QF_STOPWORDS = "'the','be','to','of','and','that','have','with','for','not'"


@_register(
    "q40_quality_filter",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text, {_TOKENS_SQL_DUCK} AS toks FROM documents
    ), m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               CASE WHEN len(toks) > 0
                    THEN round(list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks), 4)
                    ELSE 0.0 END AS mean_word_len,
               round(len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE
                     / greatest(len(text), 1), 4) AS punct_ratio,
               len(list_intersect(list_transform(toks, x -> lower(x)),
                                  [{_QF_STOPWORDS}])) AS stop_hits
        FROM t
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len, punct_ratio,
           CAST(stop_hits AS BIGINT) AS stop_hits,
           (n_words BETWEEN 5 AND 5000) AND (mean_word_len BETWEEN 2 AND 12)
               AND punct_ratio < 0.2 AND stop_hits >= 1 AS passes
    FROM m
    """,
)
def q40_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality scoring for training-data curation (Gopher-style
    rules: word-count bounds, mean word length, punctuation ratio,
    stop-word presence).  Entirely JVM higher-order functions over one
    narrow pass — the canonical pre-training filter shape at 100 TB (the
    filter column gates the corpus without a shuffle).  The metric columns
    are factored as ``with_quality_metrics`` so the streaming ingest gate
    (streaming/curation_gate.py) applies the IDENTICAL expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return with_quality_metrics(docs).select(
        "doc_id", "n_words", "mean_word_len", "punct_ratio", "stop_hits", "passes"
    )


def with_quality_metrics(docs: DataFrame) -> DataFrame:
    """Append the q40 quality metrics + the ``passes`` gate to any frame
    with a ``text`` column, preserving the input columns (batch q40 and the
    streaming curation gate share this single definition)."""
    toks = F.expr(_TOKENS_EXPR_SPARK)
    return docs.withColumns(
        {
            "n_words": F.size(toks).cast("bigint"),
            "mean_word_len": F.when(
                F.size(toks) > 0,
                F.round(
                    F.expr(
                        f"aggregate(transform({_TOKENS_EXPR_SPARK}, x -> length(x)),"
                        " 0L, (a, x) -> a + x)"
                    ).cast("double")
                    / F.size(toks),
                    4,
                ),
            ).otherwise(0.0),
            "punct_ratio": F.round(
                F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", "")).cast(
                    "double"
                )
                / F.greatest(F.length("text"), F.lit(1)),
                4,
            ),
            "stop_hits": F.size(
                F.array_intersect(
                    F.expr(f"transform({_TOKENS_EXPR_SPARK}, x -> lower(x))"),
                    F.expr(f"array({_QF_STOPWORDS})"),
                )
            ).cast("bigint"),
        }
    ).withColumn(
        "passes",
        F.col("n_words").between(5, 5000)
        & F.col("mean_word_len").between(2, 12)
        & (F.col("punct_ratio") < 0.2)
        & (F.col("stop_hits") >= 1),
    )


# ---------------------------------------------------------------------------
# q41 — int8 scalar quantization of embeddings (SQ8 storage compression)
# ---------------------------------------------------------------------------

_SQ_DIM = 64  # embeddings table dimension (TESTDATA.md)


def _sq8_duck() -> str:
    mns = ", ".join(f"CAST(min(embedding[{i}]) AS DOUBLE)" for i in range(1, _SQ_DIM + 1))
    mxs = ", ".join(f"CAST(max(embedding[{i}]) AS DOUBLE)" for i in range(1, _SQ_DIM + 1))
    return f"""
    WITH b AS (
        SELECT list_value({mns}) AS mns, list_value({mxs}) AS mxs
        FROM embeddings
    ), q AS (
        SELECT e.vec_id, e.label,
               list_transform(generate_series(1, {_SQ_DIM}), i ->
                   CASE WHEN b.mxs[i] > b.mns[i]
                        THEN CAST(round((CAST(embedding[i] AS DOUBLE) - b.mns[i])
                                        / ((b.mxs[i] - b.mns[i]) / 255.0)) AS BIGINT)
                        ELSE 0 END) AS codes,
               b.mns AS mns, b.mxs AS mxs, e.embedding AS embedding
        FROM embeddings e CROSS JOIN b
    )
    SELECT vec_id, label,
           CAST(list_sum(codes) AS BIGINT) AS sum_codes,
           list_sum(list_transform(generate_series(1, {_SQ_DIM}), i ->
               pow(CAST(embedding[i] AS DOUBLE) - (CASE WHEN mxs[i] > mns[i]
                   THEN mns[i] + codes[i] * ((mxs[i] - mns[i]) / 255.0)
                   ELSE mns[i] END), 2))) / {_SQ_DIM} * 1e6 AS mse_e6
    FROM q
    """


@_register("q41_embedding_quantize", oracle=_sq8_duck())
def q41_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 embedding compression: per-dimension global [min,max] → 8-bit
    codes → reconstruction error.  The storage-side companion of the ANN
    family (q27-q29): at 100 TB an int8 codebook cuts the embedding store
    4x before IVF/LSH indexing.

    Scale shape: the bounds are 64x2 SCALAR aggregates (one map-side-
    combined pass, single-row result — no 64x posexplode row blowup), then
    a literal-free cross join of that one row.  Quantize/dequantize/error
    are per-row array transforms in whole-stage codegen.  Cross-engine
    exactness: min/max involve no arithmetic; the quantization arithmetic
    is elementwise IEEE double (identical on both engines); the only sum
    is within-row in fixed array order."""
    emb = load_table(spark, sf_dir, "embeddings")
    bounds = emb.agg(
        F.array(
            *[F.min(F.element_at("embedding", i)).cast("double") for i in range(1, _SQ_DIM + 1)]
        ).alias("mns"),
        F.array(
            *[F.max(F.element_at("embedding", i)).cast("double") for i in range(1, _SQ_DIM + 1)]
        ).alias("mxs"),
    )
    q = emb.crossJoin(F.broadcast(bounds))
    codes = F.expr(
        f"""transform(sequence(1, {_SQ_DIM}), i ->
            CASE WHEN mxs[i-1] > mns[i-1]
                 THEN CAST(round((CAST(embedding[i-1] AS DOUBLE) - mns[i-1])
                                 / ((mxs[i-1] - mns[i-1]) / 255.0D)) AS BIGINT)
                 ELSE 0L END)"""
    )
    q = q.withColumn("codes", codes)
    mse = F.expr(
        f"""aggregate(sequence(1, {_SQ_DIM}), 0.0D, (acc, i) ->
            acc + pow(CAST(embedding[i-1] AS DOUBLE) - (CASE WHEN mxs[i-1] > mns[i-1]
                THEN mns[i-1] + codes[i-1] * ((mxs[i-1] - mns[i-1]) / 255.0D)
                ELSE mns[i-1] END), 2)) / {_SQ_DIM} * 1e6"""
    )
    return q.select(
        "vec_id",
        "label",
        F.expr("aggregate(codes, 0L, (a, x) -> a + x)").alias("sum_codes"),
        mse.alias("mse_e6"),
    )


# ---------------------------------------------------------------------------
# q42 — near-dup cluster assignment (connected components over LSH pairs)
# ---------------------------------------------------------------------------


def _q42_oracle() -> str:
    return f"""
    WITH RECURSIVE p AS ({ORACLES["q25_lsh_near_dup"]}),
    e AS (
        SELECT doc_a AS u, doc_b AS v FROM p
        UNION ALL SELECT doc_b, doc_a FROM p
    ),
    n AS (SELECT DISTINCT u AS node FROM e),
    reach(node, r) AS (
        SELECT node, node FROM n
        UNION
        SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.node
    )
    SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id,
           node = min(r) AS is_canonical
    FROM reach GROUP BY node
    """


@_register("q42_dedup_clusters", oracle=_q42_oracle())
def q42_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION step: connected components over the q25 LSH
    near-dup pair graph — every document gets a cluster id (the component's
    minimum doc_id) and a keep/drop flag (canonical = the minimum).

    The components come from ``min_label_components`` over the symmetric
    edge list.  A pair graph of at most ``_CC_DRIVER_MAX_EDGES`` directed
    edges (sf0.1: ~109k) is collected once and labelled on the driver by a
    vectorised union-find; a larger one runs the distributed min-label
    loop.  ``LAST_CC_ROUNDS`` holds the rounds of whichever path ran.  The
    oracle restates it as a recursive-CTE transitive closure — feasible for
    DuckDB at test scale.

    The label table is a shared materialized intermediate (at scale: a table
    written once per corpus snapshot) — q46 consumes the checkpoint instead
    of re-running the q25→CC chain (see ``_shared_checkpoint``)."""
    return _shared_checkpoint(
        spark, sf_dir, "q42_dedup_clusters", lambda: _q42_build(spark, sf_dir)
    )


# rounds taken by the most recent min_label_components run (CI convergence pin)
LAST_CC_ROUNDS: int | None = None

# the CC path gate, in directed edge rows: at or below it the edge list is
# collected to the driver (16 bytes a row: at most 32 MB of Arrow), above
# it the distributed loop runs
_CC_DRIVER_MAX_EDGES = 2_000_000


def min_label_components(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected components of a symmetric (u, v) edge list; returns
    (node bigint, label bigint) where label is the component's minimum node
    id.

    `edges` is persisted and counted once; the count picks the path:

    * at most ``_CC_DRIVER_MAX_EDGES`` rows: ``_driver_components`` collects
      the edges with one ``toArrow()`` and runs a vectorised union-find on
      the driver.  A round is one hook pass over the edges that still join
      two trees; the sf0.01 and sf0.1 pair graphs take 3 and 4.
    * more: ``_loop_components``, distributed min-label propagation with
      pointer jumping.  A round is one propagate + jump job.

    Neither path writes session conf, so queries planned concurrently in
    the same session see the session's own AQE and partition settings.
    ``LAST_CC_ROUNDS`` records the rounds taken, the last one being the
    round that found nothing left to change, so CI can pin "near-dup
    components converge in a handful of rounds" and catch a pair-graph
    blowup before a cluster bill does; past ``max_rounds`` the call raises
    "did not converge".  `edges` is released before the call returns or
    raises."""
    edges = edges.persist()
    try:
        small = edges.count() <= _CC_DRIVER_MAX_EDGES
        return (_driver_components if small else _loop_components)(edges, max_rounds)
    finally:
        edges.unpersist()


def _converge(step, max_rounds: int) -> None:
    """Run ``step`` — one CC round, returning whether it changed anything —
    until a round changes nothing, recording the count in LAST_CC_ROUNDS."""
    global LAST_CC_ROUNDS
    for rounds in range(1, max_rounds + 1):
        LAST_CC_ROUNDS = rounds
        if not step():
            return
    raise RuntimeError(f"connected components did not converge in {max_rounds} rounds")


def _driver_components(edges: DataFrame, max_rounds: int) -> DataFrame:
    """Union-find over the collected edge list, one numpy pass per round.

    Node ids are replaced by their rank (``np.unique`` sorts), so a smaller
    index is a smaller id.  A round hooks the larger root of every edge
    that joins two trees onto the smaller one (``np.minimum.at``: a root
    with several candidates takes the least), then pointer-jumps until each
    node points at its root.  A parent is never larger than its child, so
    a root is the minimum of its tree and, once no edge joins two trees, of
    its component.  An edge inside one tree never joins two again and is
    dropped for the next round."""
    arrow = edges.select("u", "v").toArrow()
    u, v = arrow.column("u").to_numpy(), arrow.column("v").to_numpy()
    nodes, ends = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = ends[: len(u)], ends[len(u):]
    parent = np.arange(len(nodes))

    def hook() -> bool:
        nonlocal a, b, parent
        ra, rb = parent[a], parent[b]
        joins = ra != rb
        if not joins.any():
            return False
        a, b, ra, rb = a[joins], b[joins], ra[joins], rb[joins]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while not np.array_equal(jumped := parent[parent], parent):
            parent = jumped
        return True

    _converge(hook, max_rounds)
    return edges.sparkSession.createDataFrame(
        pa.table({"node": nodes, "label": nodes[parent]})
    )


def _loop_components(edges: DataFrame, max_rounds: int) -> DataFrame:
    """Distributed min-label propagation WITH pointer jumping.

    Each round does (a) the neighbor-min propagation join (the standard
    Spark CC formulation) and (b) a path-halving join (label ← label's
    label), which collapses long pointer chains geometrically — a
    2^max_rounds-diameter path converges, not just the shallow components
    plain propagation handles.  Convergence is detected by a _changed flag
    computed inside the same select as the update (labels only ever
    decrease), so each round is exactly one job: the max() action doubles
    as the (lazy) checkpoint's materializer.

    Memory hygiene: each round's checkpoint supersedes the previous
    round's — once the new one is materialized nothing can reference the
    old blocks again, so they are unpersisted immediately instead of
    accumulating one label-table copy per round; a failed run releases its
    last checkpoint too."""
    sc = edges.sparkSession.sparkContext
    # the session's partition count, passed explicitly: AQE never coalesces
    # a numbered repartition, so both standing sides keep the same layout
    parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # co-partition the loop's standing inputs ONCE (guide §2.4 "remove
    # shuffles outright: two operations keyed the same way share one
    # exchange").  edges is probed by v every round — persist it already
    # hash-partitioned on v; labels is probed by node twice per round and
    # localCheckpoint PRESERVES partitioning (verified: the checkpointed
    # side of a keyed join plans with zero Exchange), so ending each round
    # partitioned by node moves that shuffle inside the round's checkpoint
    # materialization and every following probe is exchange-free.
    edges_by_v = edges.repartition(parts, "v").persist()
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev_ckpt_ids: set = set()

    def propagate() -> bool:
        nonlocal labels, prev_ckpt_ids
        nbr_min = (
            edges_by_v.join(labels, edges_by_v.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        mid = labels.join(nbr_min, labels.node == nbr_min.u, "left").select(
            "node",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("mid"),
        )
        # pointer jumping: follow the label's own label one hop.  A
        # SECOND hop per round (doubling) was tried r15 and rejected:
        # rounds stayed at 5 at sf0.1 — convergence here is bound by
        # neighbor-min PROPAGATION distance, which extra label hops do
        # not shorten — so the added per-round join was pure cost.
        jump = mid.select(F.col("node").alias("jn"), F.col("mid").alias("jl"))
        new_label = F.least(F.col("mid"), F.coalesce("jl", "mid"))
        before = _persistent_rdd_ids(sc)
        # LAZY checkpoint: the convergence agg below is the action that
        # materializes it, so each round schedules ONE job for
        # materialize+max instead of two (eager checkpoint job + agg
        # job) — column pruning cannot cross the checkpoint boundary,
        # so the agg still materializes every column (r14, guide §1.2:
        # at 71 jobs/run the per-job scheduling latency WAS the query)
        new_labels = materialize(
            mid.join(jump, mid.mid == jump.jn, "left")
            .select(
                "node",
                new_label.alias("label"),
                (new_label < F.col("old")).alias("_changed"),
            )
            # stored partitioned by node: next round's two labels
            # probes (propagation join, nbr_min attach) need no
            # exchange — see the co-partitioning note above the loop
            .repartition(parts, "node"),
            eager=False,
        )
        changed = new_labels.agg(F.max("_changed")).first()[0]
        new_ids = _persistent_rdd_ids(sc) - before
        _unpersist_rdd_ids(sc, prev_ckpt_ids)
        prev_ckpt_ids = new_ids
        labels = new_labels.drop("_changed")
        return bool(changed)

    try:
        _converge(propagate, max_rounds)
    except BaseException:
        _unpersist_rdd_ids(sc, prev_ckpt_ids)  # nobody will consume it now
        raise
    finally:
        edges_by_v.unpersist()
    return labels


def _q42_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = QUERIES["q25_lsh_near_dup"](spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF("u", "v")
    labels = min_label_components(edges)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# q43 — benchmark decontamination (n-gram collision against an eval set)
# ---------------------------------------------------------------------------

# the held-out "benchmark" slice: every 97th document plays the eval set
_DECON_BENCH_MOD = 97
_DECON_K = 5  # tokens per contamination gram (GPT-3/Llama-style n-gram check)


@_register(
    "q43_benchmark_decontam",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS_SQL_DUCK} AS t FROM documents
    ), g AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(t[i:i+{_DECON_K - 1}], ' ')
             for i in range(1, len(t) - {_DECON_K - 2})])) AS gram
        FROM toks WHERE len(t) >= {_DECON_K}
    )
    SELECT tr.doc_id AS doc_id, be.doc_id AS bench_id,
           count(*)::INT AS n_shared_grams
    FROM (SELECT * FROM g WHERE doc_id % {_DECON_BENCH_MOD} <> 0) tr
    JOIN (SELECT * FROM g WHERE doc_id % {_DECON_BENCH_MOD} = 0) be
      USING (gram)
    GROUP BY tr.doc_id, be.doc_id
    """,
)
def q43_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    5-grams with a held-out eval set (here: every 97th doc_id) — the
    n-gram-collision check pretraining pipelines run before training
    (GPT-3 appendix C / Llama style).

    Scale shape: the benchmark side is tiny relative to the corpus (eval
    sets don't grow with training data), so its exploded gram list is
    BROADCAST — the 100 TB training side streams through a narrow
    gram-generate + hash-probe with no shuffle; the only exchange is the
    final (doc, bench) pair aggregation, whose cardinality is bounded by
    actual contamination.  Grams are distinct per doc, so count(*) after
    the join IS the distinct shared-gram count."""
    docs = load_table(spark, sf_dir, "documents")
    grams = F.expr(
        f"""
        array_distinct(CASE WHEN size(toks) >= {_DECON_K}
            THEN transform(sequence(0, size(toks) - {_DECON_K}),
                 i -> concat_ws(' ', {', '.join(f'toks[i + {j}]' for j in range(_DECON_K))}))
            ELSE array() END)
        """
    )
    g = (
        docs.select("doc_id", F.expr(_TOKENS_EXPR_SPARK).alias("toks"))
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    train = g.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0)
    bench = g.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "gram"
    )
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").cast("int").alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# q44 — within-document repetition signals (Gopher repetition filters)
# ---------------------------------------------------------------------------


@_register(
    "q44_repetition_signals",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS_SQL_DUCK} AS t FROM documents
    ), g AS (
        SELECT doc_id, unnest(
            [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS gram
        FROM toks WHERE len(t) >= 2
    ), c AS (
        SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
    )
    SELECT doc_id,
           sum(c)::INT AS n_grams,
           count(*)::INT AS n_distinct_grams,
           max(c)::INT AS top_gram_count,
           max(c)::DOUBLE / sum(c) AS top_gram_frac,
           coalesce(sum(CASE WHEN c > 1 THEN c END), 0)::INT AS dup_gram_occurrences,
           coalesce(sum(CASE WHEN c > 1 THEN c END), 0)::DOUBLE / sum(c)
               AS dup_gram_frac
    FROM c GROUP BY doc_id
    """,
)
def q44_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals over word 2-grams — the Gopher
    repetition filters (top-n-gram fraction, duplicate-n-gram fraction)
    that catch boilerplate and degenerate repetition in pretraining data.

    Scale shape: explode → two keyed aggregations, (doc_id, gram) then
    doc_id.  Both keys include doc_id so the shuffle is uniformly spread no
    matter how skewed gram popularity is globally — deliberately NOT the
    per-doc O(n²) array-functions form, which dies on a 100k-token
    document.  Map-side combine shrinks the first exchange to the
    per-partition distinct gram count."""
    docs = load_table(spark, sf_dir, "documents")
    grams = F.expr(
        """
        CASE WHEN size(toks) >= 2
            THEN transform(sequence(0, size(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i + 1]))
            ELSE array() END
        """
    )
    counts = (
        docs.select("doc_id", F.expr(_TOKENS_EXPR_SPARK).alias("toks"))
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
    )
    dup_occ = F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0))
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("int").alias("n_grams"),
        F.count("*").cast("int").alias("n_distinct_grams"),
        F.max("c").cast("int").alias("top_gram_count"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_gram_frac"),
        dup_occ.cast("int").alias("dup_gram_occurrences"),
        (dup_occ.cast("double") / F.sum("c")).alias("dup_gram_frac"),
    )


# ---------------------------------------------------------------------------
# q45 — deterministic stratified corpus sampling (hash-gated, shuffle-free)
# ---------------------------------------------------------------------------

# per-language keep rates out of 10_000 (a corpus-mixing recipe: upweight
# high-resource strata less, keep everything rare)
_STRATA_RATES = {"en": 5000, "de": 8000, "fr": 8000, "es": 8000, "zh": 9000}
_STRATA_DEFAULT = 10_000  # unknown stratum: keep all
_STRATA_DENOM = 10_000


def _strata_case_duck() -> str:
    arms = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_STRATA_RATES.items())
    )
    return f"CASE {arms} ELSE {_STRATA_DEFAULT} END"


@_register(
    "q45_stratified_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, source, n_chars,
               ('0x' || substr(md5('smpl:' || doc_id::VARCHAR), 1, 8))
                   ::UBIGINT::BIGINT % {_STRATA_DENOM} AS sample_key,
               {_strata_case_duck()} AS keep_rate
        FROM documents
    )
    SELECT doc_id, lang, source, n_chars, sample_key
    FROM keyed WHERE sample_key < keep_rate
    """,
)
def q45_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling: per-language keep rates applied through
    a DETERMINISTIC hash gate (md5 of a salted doc_id), the corpus-mixing
    step that rebalances language/source proportions before training.

    Scale shape: a pure narrow filter — no shuffle, no rand() (which would
    be irreproducible across retries/speculative tasks and is banned in
    sampling at scale).  The same doc always gets the same verdict, so the
    sample is stable across reruns, engines, and partitionings; rates are
    literals folded into whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.expr(
        f"cast(conv(substr(md5(concat('smpl:', cast(doc_id as string))), 1, 8),"
        f" 16, 10) as bigint) % {_STRATA_DENOM}"
    )
    rate = F.lit(_STRATA_DEFAULT)
    for lang, r in sorted(_STRATA_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        docs.select("doc_id", "lang", "source", "n_chars", key.alias("sample_key"))
        .filter(F.col("sample_key") < rate)
    )


# ---------------------------------------------------------------------------
# q46 — the corpus-curation capstone: dedup decisions + stratified sampling
# ---------------------------------------------------------------------------


def _q46_oracle() -> str:
    return f"""
    WITH clusters AS ({_q42_oracle()}),
    kept AS (
        SELECT d.doc_id, d.lang, d.source,
               coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
        WHERE c.doc_id IS NULL OR c.is_canonical
    )
    SELECT doc_id, lang, source, cluster_id,
           ('0x' || substr(md5('smpl:' || doc_id::VARCHAR), 1, 8))
               ::UBIGINT::BIGINT % {_STRATA_DENOM} AS sample_key
    FROM kept
    WHERE ('0x' || substr(md5('smpl:' || doc_id::VARCHAR), 1, 8))
              ::UBIGINT::BIGINT % {_STRATA_DENOM} < {_strata_case_duck()}
    """


@_register("q46_curated_corpus", oracle=_q46_oracle())
def q46_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation decision a pretraining pipeline ships:
    near-dup clustering (q42) → keep only canonical documents → language-
    stratified deterministic sampling (q45's hash gate) — one query that
    answers "which exact documents go in the training mix".

    Scale shape: the cluster-label table is SMALL (only docs that appear in
    a near-dup pair — bounded by real duplication, not corpus size), so the
    anti/semi decision join broadcasts; the sampling gate stays a narrow
    filter.  The corpus-sized side is touched once, shuffle-free.  The
    oracle replays the whole chain (recursive-CTE closure + the same md5
    gate) in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = QUERIES["q42_dedup_clusters"](spark, sf_dir)
    key = F.expr(
        f"cast(conv(substr(md5(concat('smpl:', cast(doc_id as string))), 1, 8),"
        f" 16, 10) as bigint) % {_STRATA_DENOM}"
    )
    rate = F.lit(_STRATA_DEFAULT)
    for lang, r in sorted(_STRATA_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    joined = docs.join(
        F.broadcast(clusters), "doc_id", "left"
    ).filter(F.col("cluster_id").isNull() | F.col("is_canonical"))
    return (
        joined.select(
            "doc_id",
            "lang",
            "source",
            # a doc in no near-dup pair is its own cluster — also keeps the
            # contract column NULL-free (nullable ints coerce to float in
            # pandas-based comparers)
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            key.alias("sample_key"),
        )
        .filter(F.col("sample_key") < rate)
    )


# ---------------------------------------------------------------------------
# q47 — ANN quality evaluation: IVF recall against brute-force ground truth
# ---------------------------------------------------------------------------


def _q47_oracle(sf_dir: str) -> str:
    return f"""
    WITH ivf AS ({_q29_oracle(sf_dir)}),
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id % 50 = 0
    ), sims AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round(list_sum([q.qe[i] * c.emb[i] for i in range(1, 65)])
                     / (sqrt(list_sum([x * x for x in q.qe]))
                        * sqrt(list_sum([x * x for x in c.emb]))), 6) AS sim
        FROM q JOIN e c ON c.vec_id <> q.query_id
    ), gt AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, neighbor_id) AS rank
            FROM sims
        ) WHERE rank <= 3
    ), hits AS (
        SELECT g.query_id, count(*) AS n
        FROM gt g JOIN ivf i
          ON i.query_id = g.query_id AND i.neighbor_id = g.neighbor_id
        GROUP BY g.query_id
    )
    SELECT query_id, coalesce(h.n, 0)::INT AS n_hits,
           coalesce(h.n, 0)::DOUBLE / 3 AS recall_at_3
    FROM (SELECT DISTINCT query_id FROM gt) q LEFT JOIN hits h USING (query_id)
    """


@_register("q47_ann_recall", oracle=_q47_oracle)
def q47_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@3 of the IVF index (q29) against
    exact brute-force ground truth — the measurement loop every production
    ANN deployment runs before trusting an approximate index.

    Scale shape: ground truth is computed ONLY for the sampled query set
    (queries broadcast, corpus unshuffled — the q27 pattern), so the cost
    is |Q|·n, not n²; the recall join is per-(query, neighbor) on two tiny
    top-k tables.  Both sides round cosine to 6 decimals before ranking
    with a deterministic neighbor-id tie-break, so Spark and DuckDB rank
    identically.  Norms are precomputed per row, not per pair (q27's
    optimization — identical doubles)."""
    norm = "sqrt(aggregate(transform({c}, x -> x * x), 0D, (a, x) -> a + x))"
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("emb")
    ).withColumn("ne", F.expr(norm.format(c="emb")))
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.col("ne").alias("nq"),
    )
    dot = F.expr("aggregate(zip_with(qe, emb, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    sim = F.round(dot / (F.col("nq") * F.col("ne")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    gt = (
        F.broadcast(q)
        .join(e, e.vec_id != q.query_id)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    # the index result is a shared materialized intermediate (at scale the
    # IVF assignments/hits are a written artifact, not a subquery); q29 is
    # itself checkpoint-shared, so this is a cache hit after any q29 run
    ivf = QUERIES["q29_ivf_ann"](spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        gt.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        gt.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n", F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce("n", F.lit(0)).cast("double") / 3).alias("recall_at_3"),
        )
    )


# ---------------------------------------------------------------------------
# q48 — IVF index health: per-cell population and centroid fit quality
# ---------------------------------------------------------------------------


def _q48_oracle(sf_dir: str) -> str:
    cents, _ = _codebook(sf_dir)
    pod = _probe_order_duck(len(cents))
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), d AS (
        SELECT vec_id, emb, {_ivf_dots_duck('emb', cents)} AS dots FROM e
    ), cells AS (
        SELECT vec_id,
               ({pod})[1] AS cell,
               round(dots[({pod})[1] + 1]
                     / sqrt(list_sum([x * x for x in emb])), 6) AS cdot
        FROM d
    )
    SELECT cell,
           count(*)::INT AS n_vectors,
           round(avg(cdot), 4) AS mean_centroid_sim,
           round(min(cdot), 6) AS min_centroid_sim,
           round(max(cdot), 6) AS max_centroid_sim
    FROM cells GROUP BY cell
    """


@_register("q48_ivf_cell_stats", oracle=_q48_oracle)
def q48_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health: per-cell population and cosine-to-centroid fit
    quality — what an operator monitors to detect codebook drift (cells
    ballooning = skewed probes; falling centroid similarity = the corpus
    has moved since the fit, time to re-run the k-means job).

    Scale shape: one narrow pass computes each vector's cell and its
    similarity to the assigned (unit-norm) centroid from the broadcast
    codebook literals, then a single keyed aggregation on cell id — the
    same access pattern as building the index, no extra join."""
    cents, _ = _codebook(sf_dir)
    po = _probe_order_spark(len(cents))
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("emb")
    )
    d = e.withColumn("dots", F.expr(_ivf_dots_spark("emb", cents)))
    norm = "sqrt(aggregate(transform(emb, x -> x * x), 0D, (a, x) -> a + x))"
    cells = d.select(
        "vec_id",
        F.expr(f"element_at({po}, 1)").alias("cell"),
        F.round(
            F.expr(f"element_at(dots, element_at({po}, 1) + 1)")
            / F.expr(norm),
            6,
        ).alias("cdot"),
    )
    return cells.groupBy("cell").agg(
        F.count("*").cast("int").alias("n_vectors"),
        F.round(F.avg("cdot"), 4).alias("mean_centroid_sim"),
        F.round(F.min("cdot"), 6).alias("min_centroid_sim"),
        F.round(F.max("cdot"), 6).alias("max_centroid_sim"),
    )


# ---------------------------------------------------------------------------
# q49 — per-(source, lang) corpus report card
# ---------------------------------------------------------------------------


def _q49_oracle() -> str:
    return f"""
    WITH qf AS ({ORACLES["q40_quality_filter"]}),
    cl AS ({_q42_oracle()}),
    t AS (
        SELECT doc_id, source, lang, len({_TOKENS_SQL_DUCK}) AS n_toks
        FROM documents
    )
    SELECT t.source, t.lang,
           count(*)::INT AS n_docs,
           sum(t.n_toks)::BIGINT AS n_tokens,
           sum(CASE WHEN qf.passes THEN 1 ELSE 0 END)::INT AS n_quality_pass,
           round(sum(CASE WHEN qf.passes THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 4) AS quality_pass_rate,
           sum(CASE WHEN cl.doc_id IS NOT NULL AND NOT cl.is_canonical
                    THEN 1 ELSE 0 END)::INT AS n_dup_drops,
           round(sum(CASE WHEN cl.doc_id IS NOT NULL AND NOT cl.is_canonical
                          THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS dup_drop_rate
    FROM t JOIN qf USING (doc_id) LEFT JOIN cl ON cl.doc_id = t.doc_id
    GROUP BY t.source, t.lang
    """


@_register("q49_source_report", oracle=_q49_oracle())
def q49_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(source, lang) corpus report card a pretraining pipeline
    prints before committing to a mix: document and token counts, the
    Gopher-filter pass rate (q40), and the share of documents the near-dup
    clustering would drop as non-canonical (q42) — every number an operator
    needs to weight or exclude a source.

    Scale shape: quality signals are the q40 narrow pass; cluster labels
    come from the shared materialized intermediate (one LSH pass per
    session) and BROADCAST into the decision join (bounded by real
    duplication); the only exchange is the final tiny (source, lang)
    aggregation with map-side combine."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(_TOKENS_EXPR_SPARK)
    qf = QUERIES["q40_quality_filter"](spark, sf_dir).select("doc_id", "passes")
    labels = QUERIES["q42_dedup_clusters"](spark, sf_dir)
    dup_drop = F.col("cluster_id").isNotNull() & ~F.coalesce(
        "is_canonical", F.lit(True)
    )
    joined = (
        docs.select("doc_id", "source", "lang", F.size(toks).alias("n_toks"))
        .join(qf, "doc_id")
        .join(F.broadcast(labels.select("doc_id", "cluster_id", "is_canonical")),
              "doc_id", "left")
    )
    return joined.groupBy("source", "lang").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum(F.col("passes").cast("int")).cast("int").alias("n_quality_pass"),
        F.round(
            F.sum(F.col("passes").cast("int")).cast("double") / F.count("*"), 4
        ).alias("quality_pass_rate"),
        F.sum(dup_drop.cast("int")).cast("int").alias("n_dup_drops"),
        F.round(
            F.sum(dup_drop.cast("int")).cast("double") / F.count("*"), 4
        ).alias("dup_drop_rate"),
    )


# ---------------------------------------------------------------------------
# q50 — deterministic train/val/test split assignment
# ---------------------------------------------------------------------------

# split thresholds over a 1000-bucket hash space: [0,800) train,
# [800,900) val, [900,1000) test
_SPLIT_DENOM = 1000
_SPLIT_TRAIN = 800
_SPLIT_VAL = 900
_SPLIT_SALT = "split:v1:"  # version the salt to rotate assignments on purpose


@_register(
    "q50_split_assign",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5('{_SPLIT_SALT}' || doc_id::VARCHAR), 1, 8))
                   ::UBIGINT::BIGINT % {_SPLIT_DENOM} AS bucket
        FROM documents
    )
    SELECT doc_id, lang, CAST(bucket AS INT) AS bucket,
           CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
                WHEN bucket < {_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def q50_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment: a salted md5 hash of
    the document id lands each doc in one of 1000 buckets, carved 80/10/10.
    The property a pretraining pipeline needs — and `rand()` lacks — is
    stability: the same doc gets the same split under task retries,
    repartitioning, corpus regrowth, or recomputation months later, and
    rotating the salt re-splits on purpose.  Membership is a pure function
    of the row, so val/test never leak into train across runs.

    Scale shape: narrow, shuffle-free, no rand() (non-reproducible under
    retry); the same hash-gate pattern as q45's stratified sampling."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        f"cast(conv(substr(md5(concat('{_SPLIT_SALT}', cast(doc_id as string))),"
        f" 1, 8), 16, 10) as bigint) % {_SPLIT_DENOM}"
    )
    return docs.select(
        "doc_id",
        "lang",
        bucket.cast("int").alias("bucket"),
        F.when(F.col("bucket") < _SPLIT_TRAIN, "train")
        .when(F.col("bucket") < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# q51 — IVF-SQ8 ANN: quantized-code search with exact re-ranking
# ---------------------------------------------------------------------------

_SQ8_SHORTLIST = 6  # approx-phase candidates re-ranked exactly (2x final k)


def _q51_oracle(sf_dir: str) -> str:
    cents, n_probe = _codebook(sf_dir)
    pod = _probe_order_duck(len(cents))
    mns = ", ".join(f"CAST(min(embedding[{i}]) AS DOUBLE)" for i in range(1, _SQ_DIM + 1))
    mxs = ", ".join(f"CAST(max(embedding[{i}]) AS DOUBLE)" for i in range(1, _SQ_DIM + 1))
    cos = (
        f"round(list_sum(list_transform(generate_series(1, {_SQ_DIM}), "
        "i -> {a}[i] * {b}[i]))"
        " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
        " * sqrt(list_sum(list_transform({b}, x -> x * x)))), 6)"
    )
    return f"""
    WITH b AS (
        SELECT list_value({mns}) AS mns, list_value({mxs}) AS mxs FROM embeddings
    ), e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), d AS (
        SELECT vec_id, emb, {_ivf_dots_duck('emb', cents)} AS dots FROM e
    ), cells AS (
        SELECT c.vec_id, c.emb, ({pod})[1] AS cell,
               list_transform(generate_series(1, {_SQ_DIM}), i ->
                   CASE WHEN b.mxs[i] > b.mns[i]
                        THEN b.mns[i]
                             + round((c.emb[i] - b.mns[i])
                                     / ((b.mxs[i] - b.mns[i]) / 255.0))
                               * ((b.mxs[i] - b.mns[i]) / 255.0)
                        ELSE b.mns[i] END) AS dq
        FROM d c CROSS JOIN b
    ), q AS (
        SELECT vec_id AS query_id, emb AS qe,
               ({pod})[1:{n_probe}] AS probe
        FROM d WHERE vec_id % 50 = 0
    ), qp AS (
        SELECT query_id, qe, unnest(probe) AS pcell FROM q
    ), approx AS (
        SELECT qp.query_id, qp.qe, c.vec_id AS neighbor_id, c.emb AS cemb,
               {cos.format(a='qp.qe', b='c.dq')} AS approx_sim
        FROM qp JOIN cells c ON c.cell = qp.pcell AND c.vec_id <> qp.query_id
    ), shortlist AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY approx_sim DESC, neighbor_id) AS arank
            FROM approx
        ) WHERE arank <= {_SQ8_SHORTLIST}
    )
    SELECT query_id, neighbor_id, approx_sim, sim, rank FROM (
        SELECT query_id, neighbor_id, approx_sim,
               {cos.format(a='qe', b='cemb')} AS sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {cos.format(a='qe', b='cemb')} DESC,
                                           neighbor_id) AS rank
        FROM shortlist
    ) WHERE rank <= 3
    """


@_register("q51_ivf_sq8_ann", oracle=_q51_oracle)
def q51_ivf_sq8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 ANN — the memory-bound production configuration: candidates
    in the probed cells are scored against DEQUANTIZED 8-bit codes (q41's
    scalar quantizer: 64 B/vector instead of 512 B, so cell scans stay in
    memory at 100 TB), the approx top-`_SQ8_SHORTLIST` shortlist is then
    re-ranked with exact cosine, and the final top-3 carries both scores so
    the quantization loss is observable per result.  Queries stay full
    precision (the standard asymmetric-distance setup).

    Scale shape: bounds are one broadcast single-row aggregate (q41), the
    codebook is broadcast literals (q29), dequantize/score is per-row JVM
    array math, and the only joins are the broadcast probe join and the
    tiny shortlist re-rank.  At 100 TB only codes + cell ids live in the
    scan path; full vectors are fetched for the shortlist alone."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("emb")
    )
    bounds = e.agg(
        F.array(
            *[F.min(F.element_at("emb", i)).cast("double") for i in range(1, _SQ_DIM + 1)]
        ).alias("mns"),
        F.array(
            *[F.max(F.element_at("emb", i)).cast("double") for i in range(1, _SQ_DIM + 1)]
        ).alias("mxs"),
    )
    cents, n_probe = _codebook(sf_dir)
    po = _probe_order_spark(len(cents))
    d = e.withColumn("dots", F.expr(_ivf_dots_spark("emb", cents)))
    dq = F.expr(
        f"""transform(sequence(1, {_SQ_DIM}), i ->
            CASE WHEN mxs[i-1] > mns[i-1]
                 THEN mns[i-1]
                      + round((emb[i-1] - mns[i-1])
                              / ((mxs[i-1] - mns[i-1]) / 255.0D))
                        * ((mxs[i-1] - mns[i-1]) / 255.0D)
                 ELSE mns[i-1] END)"""
    )
    # the dequantized norm is per-VECTOR: compute it alongside dq once per
    # corpus row (and the query norm once per query) instead of inside the
    # per-candidate-pair cosine — identical arithmetic, ~n_probe*|Q|/cells
    # fewer norm evaluations per row; bit-identical (guide §2.3)
    norm_of = "sqrt(aggregate(transform({c}, x -> x * x), 0D, (s, x) -> s + x))"
    # materialize the scored corpus table and the tiny query side once per
    # invocation (q78's barrier rule, applied r15): without it Catalyst
    # plants the scan→cast→dots→quantize subtree under BOTH the probe join
    # and the query side — and the bounds agg scans a third time
    cells = materialize(
        d.crossJoin(F.broadcast(bounds))
        .select(
            "vec_id",
            "emb",
            F.expr(f"element_at({po}, 1)").alias("cell"),
            dq.alias("dq"),
        )
        .withColumn("ndq", F.expr(norm_of.format(c="dq"))),
        eager=False,
    )
    q = materialize(
        d.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qe"),
            F.expr(f"slice({po}, 1, {n_probe})").alias("probe"),
            F.expr(norm_of.format(c="emb")).alias("nqe"),
        ),
        eager=False,
    )
    qp = q.select("query_id", "qe", "nqe", F.explode("probe").alias("pcell"))
    cos = (
        "round(aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, x) -> s + x)"
        " / (sqrt(aggregate(transform({a}, x -> x * x), 0D, (s, x) -> s + x))"
        " * sqrt(aggregate(transform({b}, x -> x * x), 0D, (s, x) -> s + x))), 6)"
    )
    approx_dot = F.expr(
        "aggregate(zip_with(qe, dq, (x, y) -> x * y), 0D, (s, x) -> s + x)"
    )
    approx = (
        F.broadcast(qp)
        .join(cells, (cells.cell == qp.pcell) & (cells.vec_id != qp.query_id))
        .select(
            "query_id",
            "qe",
            F.col("vec_id").alias("neighbor_id"),
            F.col("emb").alias("cemb"),
            F.round(approx_dot / (F.col("nqe") * F.col("ndq")), 6).alias("approx_sim"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"), "neighbor_id")
    shortlist = (
        approx.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= _SQ8_SHORTLIST)
        .drop("arank")
    )
    exact = shortlist.withColumn("sim", F.expr(cos.format(a="qe", b="cemb")))
    wr = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "approx_sim", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# q58 — semantic deduplication (SemDeDup over IVF cells)
# ---------------------------------------------------------------------------

# Within-cell cosine threshold.  Measured on the synthetic corpus: random
# within-cell pairs sit below ~0.35 (near-uniform sphere + shared-centroid
# lift), the planted near-duplicate pairs at 0.40-0.48 — 0.4 separates
# them.  q28's 0.2 bar is looser because LSH buckets pre-filter candidates;
# here every in-cell pair is scored, so the bar must reject the bulk.
_SEM_TAU = 0.4


def _q58_oracle(sf_dir: str) -> str:
    cents, _ = _codebook(sf_dir)
    pod = _probe_order_duck(len(cents))
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), d AS (
        SELECT vec_id, emb, {_ivf_dots_duck('emb', cents)} AS dots FROM e
    ), cells AS (
        SELECT vec_id, emb, ({pod})[1] AS cell FROM d
    ), edges AS (
        SELECT a.vec_id AS v, b.vec_id AS o
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND b.vec_id <> a.vec_id
        WHERE round(list_sum([a.emb[i] * b.emb[i] for i in range(1, 65)])
                    / (sqrt(list_sum([x * x for x in a.emb]))
                       * sqrt(list_sum([x * x for x in b.emb]))), 6) >= {_SEM_TAU}
    ), agg AS (
        SELECT v, count(*) AS n, max(CASE WHEN o < v THEN 1 ELSE 0 END) AS hl
        FROM edges GROUP BY v
    )
    SELECT c.vec_id, c.cell,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_sem_dups,
           COALESCE(a.hl, 0) = 0 AS is_kept
    FROM cells c LEFT JOIN agg a ON a.v = c.vec_id
    """


@_register("q58_semantic_dedup", oracle=_q58_oracle)
def q58_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023): cluster
    the corpus with the fitted IVF codebook, compute pairwise cosine only
    WITHIN each cluster, and greedily keep the lowest vec_id of every
    near-identical group (a doc is dropped iff a lower-id in-cell neighbor
    sits above the similarity bar).  Emits per-vector the cell, the in-cell
    duplicate degree, and the keep decision — the cheap cluster-then-
    compare alternative to q28's LSH when embeddings are already on hand.

    Scale shape: the codebook is a broadcast literal, cell assignment is a
    narrow JVM projection, and the corpus shuffles ONCE on cell id; the
    pairwise stage is quadratic only in cluster size, which is the knob the
    operator controls (K grows with the corpus so cells stay ~constant;
    q48 monitors the balance that keeps this true).  Embeddings ride the
    one cell shuffle, so the pair join is partition-local per cell — at
    100 TB cell id is the physical partitioning and no second exchange
    exists."""
    cents, _ = _codebook(sf_dir)
    po = _probe_order_spark(len(cents))
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("emb")
    )
    d = e.withColumn("dots", F.expr(_ivf_dots_spark("emb", cents)))
    cells = d.select("vec_id", "emb", F.expr(f"element_at({po}, 1)").alias("cell"))
    a = cells.select(
        F.col("vec_id").alias("v"), F.col("emb").alias("ea"), F.col("cell").alias("ca")
    )
    b = cells.select(
        F.col("vec_id").alias("o"), F.col("emb").alias("eb"), F.col("cell").alias("cb")
    )
    cos = (
        "round(aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (s, x) -> s + x)"
        " / (sqrt(aggregate(transform(ea, x -> x * x), 0D, (s, x) -> s + x))"
        " * sqrt(aggregate(transform(eb, x -> x * x), 0D, (s, x) -> s + x))), 6)"
    )
    edges = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("o") != F.col("v")))
        .filter(F.expr(cos) >= _SEM_TAU)
        .select("v", "o")
    )
    agg = edges.groupBy("v").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.when(F.col("o") < F.col("v"), 1).otherwise(0)).alias("hl"),
    )
    return (
        cells.select("vec_id", "cell")
        .join(agg, cells.vec_id == agg.v, "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_sem_dups"),
            (F.coalesce("hl", F.lit(0)) == 0).alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# q59 — train/val/test leakage audit over the near-dup pair graph
# ---------------------------------------------------------------------------

def _split_case_duck(col: str) -> str:
    b = (
        f"('0x' || substr(md5('{_SPLIT_SALT}' || {col}::VARCHAR), 1, 8))"
        f"::UBIGINT::BIGINT % {_SPLIT_DENOM}"
    )
    return (
        f"CASE WHEN {b} < {_SPLIT_TRAIN} THEN 'train' "
        f"WHEN {b} < {_SPLIT_VAL} THEN 'val' ELSE 'test' END"
    )


def _split_case_spark(col: str) -> str:
    b = (
        f"cast(conv(substr(md5(concat('{_SPLIT_SALT}', cast({col} as string))),"
        f" 1, 8), 16, 10) as bigint) % {_SPLIT_DENOM}"
    )
    return (
        f"CASE WHEN {b} < {_SPLIT_TRAIN} THEN 'train' "
        f"WHEN {b} < {_SPLIT_VAL} THEN 'val' ELSE 'test' END"
    )


@_register(
    "q59_split_leakage",
    oracle=f"""
    WITH pairs AS ({ORACLES["q25_lsh_near_dup"]})
    SELECT doc_a, doc_b, split_a, split_b, jaccard FROM (
        SELECT doc_a, doc_b,
               {_split_case_duck('doc_a')} AS split_a,
               {_split_case_duck('doc_b')} AS split_b,
               jaccard
        FROM pairs
    ) WHERE split_a <> split_b
    """,
)
def q59_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: near-duplicate pairs (q25's verified
    MinHash-LSH graph) whose two documents landed in DIFFERENT train/val/
    test splits — exactly the leakage a hash split (q50) cannot prevent
    when near-copies exist, and the reason production pipelines dedup
    BEFORE splitting.  Emits the leaking pairs with both split labels so
    the fix (drop the non-train member, or re-cluster) is actionable.

    Scale shape: consumes the session-shared q25 pair checkpoint (no second
    LSH pass) and — because split membership is a pure hash of the row
    (q50's contract) — attaches both labels as narrow JVM projections on
    the pair table itself.  Zero joins, zero exchanges beyond the pairs
    already materialized."""
    pairs = q25_lsh_near_dup(spark, sf_dir)
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.expr(_split_case_spark("doc_a")).alias("split_a"),
            F.expr(_split_case_spark("doc_b")).alias("split_b"),
            "jaccard",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )


# ---------------------------------------------------------------------------
# q69 — LSH recall evaluation (exact near-dup ground truth on a sample)
# ---------------------------------------------------------------------------

_LSH_EVAL_MOD = 10  # evaluation sample: every 10th document


@_register(
    "q69_lsh_recall",
    oracle=f"""
    WITH RECURSIVE p AS ({ORACLES["q25_lsh_near_dup"]}),
    e AS (
        SELECT doc_a AS u, doc_b AS v FROM p
        UNION ALL SELECT doc_b, doc_a FROM p
    ),
    n AS (SELECT DISTINCT u AS node FROM e),
    reach(node, r) AS (
        SELECT node, node FROM n
        UNION
        SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.node
    ),
    labels AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
    t2 AS (SELECT doc_id, {_TOKENS_SQL_DUCK} AS tokens FROM documents),
    s AS (
        SELECT doc_id,
               [{_TOKHASH_DUCK.format(t='t')} for t in list_distinct(tokens)] AS th
        FROM t2 WHERE doc_id % {_LSH_EVAL_MOD} = 0 AND len(tokens) > 0
    ), gt AS (
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(len(list_intersect(a.th, b.th))::INT::DOUBLE
                         / (len(a.th) + len(b.th)
                            - len(list_intersect(a.th, b.th))), 6) AS jaccard
            FROM s a JOIN s b ON b.doc_id > a.doc_id
        ) WHERE jaccard >= 0.5
    )
    SELECT gt.doc_a, gt.doc_b, gt.jaccard,
           COALESCE(p.doc_a IS NOT NULL, FALSE) AS found,
           COALESCE(la.cluster_id = lb.cluster_id, FALSE) AS same_cluster
    FROM gt
    LEFT JOIN p ON p.doc_a = gt.doc_a AND p.doc_b = gt.doc_b
    LEFT JOIN labels la ON la.doc_id = gt.doc_a
    LEFT JOIN labels lb ON lb.doc_id = gt.doc_b
    """,
)
def q69_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall evaluation for the MinHash-LSH dedup pipeline — the q47
    measurement loop applied to the text side.  Exact all-pairs token-set
    Jaccard over a deterministic sample is the ground truth; each true
    near-dup pair (Jaccard ≥ 0.5) reports (a) ``found`` — the pair itself
    is a q25 edge, and (b) ``same_cluster`` — both docs land in one q42
    component, the recall that matters for dedup (the star edges inside
    over-cap template buckets make family members transitively reachable
    without all-pairs edges, so same_cluster ≫ found there by design).
    This measurement caught the previous drop-hot-buckets design silently
    unlinking the largest duplicate families.

    Scale shape: exact ground truth is quadratic ONLY in the sample
    (|S|²/2 pairs, the q47 |Q|·n pattern); the sample is a filter on the
    session-shared signature table and the membership joins consume the
    shared q25 pair and q42 label checkpoints, so no second tokenize, LSH
    or CC pass."""
    s = token_signatures(spark, sf_dir).filter(
        F.col("doc_id") % _LSH_EVAL_MOD == 0
    ).select("doc_id", "th")
    a = s.select(F.col("doc_id").alias("doc_a"), F.col("th").alias("tha"))
    b = s.select(F.col("doc_id").alias("doc_b"), F.col("th").alias("thb"))
    inter = F.size(F.array_intersect("tha", "thb"))
    jac = F.round(
        inter.cast("double") / (F.size("tha") + F.size("thb") - inter), 6
    )
    gt = (
        F.broadcast(a)
        .join(b, F.col("doc_b") > F.col("doc_a"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )
    found = q25_lsh_near_dup(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("found")
    )
    labels = QUERIES["q42_dedup_clusters"](spark, sf_dir)
    la = labels.select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("ca"))
    lb = labels.select(F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cb"))
    return (
        gt.join(found, ["doc_a", "doc_b"], "left")
        .join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.coalesce("found", F.lit(False)).alias("found"),
            F.coalesce(F.col("ca") == F.col("cb"), F.lit(False)).alias("same_cluster"),
        )
    )


# ---------------------------------------------------------------------------
# q70 — cluster-aware train/val/test split (leakage-free by construction)
# ---------------------------------------------------------------------------

_CSPLIT_SALT = "clustersplit:v1:"


@_register(
    "q70_cluster_split",
    oracle=f"""
    WITH RECURSIVE p AS ({ORACLES["q25_lsh_near_dup"]}),
    e AS (
        SELECT doc_a AS u, doc_b AS v FROM p
        UNION ALL SELECT doc_b, doc_a FROM p
    ),
    n AS (SELECT DISTINCT u AS node FROM e),
    reach(node, r) AS (
        SELECT node, node FROM n
        UNION
        SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.node
    ),
    labels AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
    keyed AS (
        SELECT d.doc_id, d.lang,
               CAST(COALESCE(l.cluster_id, d.doc_id) AS BIGINT) AS split_key
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    ), b AS (
        SELECT doc_id, lang, split_key,
               ('0x' || substr(md5('{_CSPLIT_SALT}' || split_key::VARCHAR), 1, 8))
                   ::UBIGINT::BIGINT % {_SPLIT_DENOM} AS bucket
        FROM keyed
    )
    SELECT doc_id, lang, split_key, CAST(bucket AS INT) AS bucket,
           CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
                WHEN bucket < {_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def q70_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fix for the leakage q59 measures: hash the SPLIT KEY, not the
    document — a doc's key is its q42 near-dup cluster id (its own id when
    unclustered), so every near-duplicate family lands in one split and no
    q25 pair can ever cross train/val/test.  Retains q50's properties
    (deterministic, retry-stable, salt-rotatable); the cost is that splits
    move in family units, so the 80/10/10 carve is exact in expectation
    over families rather than documents.  Honest caveat, measured: this
    synthetic corpus is so self-similar at the 0.5 token-set bar that one
    family holds ~95% of documents (q42's biggest component), so here the
    carve is dominated by where that family hashes — on such corpora the
    operator raises the verify bar (or shards giant families) before
    splitting; the leakage guarantee itself is unconditional.

    Scale shape: the label table is bounded by real duplication and
    BROADCASTS into the corpus join (the q46 pattern); the split is then a
    narrow hash of the joined key — no extra exchange."""
    labels = QUERIES["q42_dedup_clusters"](spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = docs.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("cluster_id", "doc_id").cast("bigint").alias("split_key"),
    )
    bucket = F.expr(
        f"cast(conv(substr(md5(concat('{_CSPLIT_SALT}', cast(split_key as string))),"
        f" 1, 8), 16, 10) as bigint) % {_SPLIT_DENOM}"
    )
    return keyed.select(
        "doc_id",
        "lang",
        "split_key",
        bucket.cast("int").alias("bucket"),
        F.when(F.col("bucket") < _SPLIT_TRAIN, "train")
        .when(F.col("bucket") < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# q75 — training-corpus assembly capstone (curate → split → count)
# ---------------------------------------------------------------------------


def _csplit_case(col: str, duck: bool) -> str:
    if duck:
        b = (
            f"('0x' || substr(md5('{_CSPLIT_SALT}' || {col}::VARCHAR), 1, 8))"
            f"::UBIGINT::BIGINT % {_SPLIT_DENOM}"
        )
    else:
        b = (
            f"cast(conv(substr(md5(concat('{_CSPLIT_SALT}', cast({col} as string))),"
            f" 1, 8), 16, 10) as bigint) % {_SPLIT_DENOM}"
        )
    return (
        f"CASE WHEN {b} < {_SPLIT_TRAIN} THEN 'train' "
        f"WHEN {b} < {_SPLIT_VAL} THEN 'val' ELSE 'test' END"
    )


@_register(
    "q75_training_corpus",
    oracle=f"""
    WITH cur AS ({_q46_oracle()}),
    t AS (
        SELECT doc_id, len({_TOKENS_SQL_DUCK}) AS n_tokens FROM documents
    )
    SELECT c.doc_id, c.lang, c.source, c.cluster_id,
           {_csplit_case('c.cluster_id', True)} AS split,
           CAST(t.n_tokens AS BIGINT) AS n_tokens
    FROM cur c JOIN t USING (doc_id)
    """,
)
def q75_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembly a trainer actually consumes: q46's curation decision
    (dedup-canonical + stratified sampling), stamped with the
    cluster-aware split (q70's leakage-free hash — computable INLINE here
    because q46 already carries the cluster key, so the split costs zero
    joins), plus the token count the packing/mixture stages (q52/q57)
    budget with.  A doc's split here equals its q70 split by construction
    (same key, same salt) — pinned by test.

    Scale shape: q46's one-broadcast-join pass, a narrow hash for the
    split, and a single doc_id equi-join to attach token counts (at 100 TB
    the count rides the curation scan instead; the join form keeps the
    composition explicit here)."""
    cur = QUERIES["q46_curated_corpus"](spark, sf_dir)
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.expr(_TOKENS_EXPR_SPARK)).cast("bigint").alias("n_tokens")
    )
    return (
        cur.join(t, "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            "cluster_id",
            F.expr(_csplit_case("cluster_id", False)).alias("split"),
            "n_tokens",
        )
    )


# ---------------------------------------------------------------------------
# q97 — language-ID confusion matrix (classifier QA against labels)
# ---------------------------------------------------------------------------


@_register(
    "q97_lang_confusion",
    oracle=f"""
    WITH pred AS (
        SELECT doc_id, lang, predicted_lang FROM ({ORACLES["q21_lang_id"]})
    )
    SELECT lang AS true_lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*)::DOUBLE
                 / sum(count(*)) OVER (PARTITION BY lang), 4) AS row_share
    FROM pred GROUP BY lang, predicted_lang
    """,
)
def q97_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The confusion matrix for the q21 language classifier against the
    table's labels: per (true, predicted) cell, document count and the
    row-normalized share — the QA report that decides whether a cheap
    classifier is good enough to route documents (and which languages it
    confuses).  The quality-evaluation loop every heuristic filter in the
    pipeline needs, expressed once.

    Scale shape: q21's narrow scoring pass plus one small (|langs|^2
    groups) aggregation; the row normalization is a window over at most
    |langs| rows per partition."""
    pred = QUERIES["q21_lang_id"](spark, sf_dir).select(
        "doc_id", "lang", "predicted_lang"
    )
    return (
        pred.groupBy(F.col("lang").alias("true_lang"), F.col("predicted_lang"))
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .withColumn(
            "row_share",
            F.round(
                F.col("n_docs").cast("double")
                / F.sum("n_docs").over(Window.partitionBy("true_lang")),
                4,
            ),
        )
    )


# ---------------------------------------------------------------------------
# q98 — dataset card: the datasheet numbers for a corpus release, one query
# ---------------------------------------------------------------------------


def _q98_oracle() -> str:
    return f"""
    WITH qf AS ({ORACLES["q40_quality_filter"]}),
    cl AS ({_q42_oracle()}),
    sp AS ({ORACLES["q50_split_assign"]}),
    t AS (SELECT doc_id, len({_TOKENS_SQL_DUCK}) AS n_toks FROM documents)
    SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
    UNION ALL
    SELECT 'total_tokens', CAST(sum(n_toks) AS DOUBLE) FROM t
    UNION ALL
    SELECT 'mean_doc_tokens', round(avg(n_toks), 4) FROM t
    UNION ALL
    SELECT 'n_languages', CAST(count(DISTINCT lang) AS DOUBLE) FROM documents
    UNION ALL
    SELECT 'n_sources', CAST(count(DISTINCT source) AS DOUBLE) FROM documents
    UNION ALL
    SELECT 'quality_pass_rate',
           round(sum(CASE WHEN passes THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
    FROM qf
    UNION ALL
    SELECT 'dup_drop_rate',
           round((SELECT count(*) FROM cl WHERE NOT is_canonical)::DOUBLE
                 / (SELECT count(*) FROM documents), 4)
    UNION ALL
    SELECT 'train_share',
           round(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 4) FROM sp
    UNION ALL
    SELECT 'val_share',
           round(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 4) FROM sp
    UNION ALL
    SELECT 'test_share',
           round(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 4) FROM sp
    """


@_register("q98_dataset_card", oracle=_q98_oracle())
def q98_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: the datasheet numbers a corpus release ships —
    size, token budget, language/source breadth, quality pass rate, the
    near-dup drop rate, and split shares — as (metric, value) rows from
    one query.  Composes the existing curation operators (q40 quality,
    q42 clustering via the shared checkpoint, q50 splits), so the card is
    CONSISTENT with the pipeline's own decisions by construction, not a
    parallel re-implementation.

    Scale shape: each metric is a scalar aggregate over an
    already-characterized pass; the union is ten 1-row frames."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.size(F.expr(_TOKENS_EXPR_SPARK)).alias("n_toks"))
    qf = QUERIES["q40_quality_filter"](spark, sf_dir)
    cl = QUERIES["q42_dedup_clusters"](spark, sf_dir)
    sp = QUERIES["q50_split_assign"](spark, sf_dir)
    n_docs = docs.count()

    def row(metric: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(metric).alias("metric"), F.col("value"))

    parts = [
        row("n_docs", docs.agg(F.count("*").cast("double").alias("value"))),
        row("total_tokens", toks.agg(F.sum("n_toks").cast("double").alias("value"))),
        row("mean_doc_tokens", toks.agg(F.round(F.avg("n_toks"), 4).alias("value"))),
        row("n_languages",
            docs.agg(F.countDistinct("lang").cast("double").alias("value"))),
        row("n_sources",
            docs.agg(F.countDistinct("source").cast("double").alias("value"))),
        row("quality_pass_rate",
            qf.agg(F.round(
                F.sum(F.col("passes").cast("int")).cast("double") / F.count("*"), 4
            ).alias("value"))),
        row("dup_drop_rate",
            cl.filter(~F.col("is_canonical")).agg(
                F.round(F.count("*").cast("double") / F.lit(n_docs), 4).alias("value")
            )),
        row("train_share",
            sp.agg(F.round(
                F.sum((F.col("split") == "train").cast("int")).cast("double")
                / F.count("*"), 4).alias("value"))),
        row("val_share",
            sp.agg(F.round(
                F.sum((F.col("split") == "val").cast("int")).cast("double")
                / F.count("*"), 4).alias("value"))),
        row("test_share",
            sp.agg(F.round(
                F.sum((F.col("split") == "test").cast("int")).cast("double")
                / F.count("*"), 4).alias("value"))),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# q99 — token rank-frequency and Zipf slope (corpus-linguistics sanity)
# ---------------------------------------------------------------------------


@_register(
    "q99_token_zipf",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_TOKENS_SQL_DUCK}) AS token FROM documents
    ), freq AS (
        SELECT token, count(*) AS cnt FROM tok GROUP BY token
    ), ranked AS (
        SELECT token, cnt,
               row_number() OVER (ORDER BY cnt DESC, token) AS rnk
        FROM freq
    ), lg AS (
        SELECT token, cnt, rnk, ln(rnk::DOUBLE) AS lx, ln(cnt::DOUBLE) AS ly
        FROM ranked
    ), fit AS (
        SELECT (count(*) * sum(lx * ly) - sum(lx) * sum(ly))
               / (count(*) * sum(lx * lx) - sum(lx) * sum(lx)) AS slope
        FROM lg
    )
    SELECT l.token, CAST(l.cnt AS BIGINT) AS cnt, CAST(l.rnk AS INT) AS rnk,
           round((SELECT slope FROM fit), 4) AS zipf_slope
    FROM lg l WHERE l.rnk <= 20
    """,
)
def q99_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token rank-frequency with the least-squares log-log slope — the
    Zipf sanity check that catches a broken tokenizer or a template-
    flooded corpus before training does (natural text slopes near -1;
    boilerplate floods flatten the head).  Returns the top-20 tokens with
    the corpus-wide fitted slope alongside.

    Scale shape: one token-count shuffle; the regression is a scalar
    aggregate over (log rank, log count) — closed form, no iteration.
    The global rank over (cnt DESC, token) is NOT a global window — at
    web scale the distinct-token table reaches 1e8-1e9 rows and a
    single-partition sort dies — it is a three-level two-phase rank:

      1. tokens bucket on (log2-band(cnt), cnt, 2-char token prefix) — a
         lexicographic prefix of the full sort key, so bucket order IS
         rank order; row_number inside each bucket is a PARTITIONED
         window (the hottest bucket is one prefix cell of the cnt=1
         class, ~vocab/1369, refinable by widening the prefix);
      2. bucket sizes roll up to per-class offsets via a window
         partitioned by the log2 band (metadata-sized: one row per
         (cnt, prefix) cell, never per token);
      3. band totals (<= 256 rows, bounded by the log2 alphabet) turn
         into band offsets via the only global window in the plan.

    rank = band offset + in-band class offset + local row_number."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.expr(_TOKENS_EXPR_SPARK)).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    cls = freq.withColumn(
        "band", F.floor(F.log2(F.col("cnt").cast("double")) * 4).cast("int")
    ).withColumn("pref", F.substring("token", 1, 2))
    # level 1: exact rank inside each (band, cnt, pref) bucket
    w_tok = Window.partitionBy("band", "cnt", "pref").orderBy("token")
    local = cls.withColumn("local_rank", F.row_number().over(w_tok))
    # level 2: class offsets inside each band (one row per (cnt, pref))
    sizes = cls.groupBy("band", "cnt", "pref").agg(F.count(F.lit(1)).alias("m"))
    w_cls = Window.partitionBy("band").orderBy(
        F.desc("cnt"), "pref"
    ).rowsBetween(Window.unboundedPreceding, -1)
    cls_off = sizes.withColumn(
        "cls_off", F.coalesce(F.sum("m").over(w_cls), F.lit(0))
    )
    # level 3: band offsets — bounded by the log2 grid (<= 4*64 rows)
    band_tot = sizes.groupBy("band").agg(F.sum("m").alias("bm"))
    w_band = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    band_off = band_tot.withColumn(
        "band_off", F.coalesce(F.sum("bm").over(w_band), F.lit(0))
    ).select("band", "band_off")
    offsets = cls_off.join(F.broadcast(band_off), "band").select(
        "band", "cnt", "pref",
        (F.col("band_off") + F.col("cls_off")).alias("start"),
    )
    ranked = local.join(offsets, ["band", "cnt", "pref"]).withColumn(
        "rnk", (F.col("start") + F.col("local_rank")).cast("int")
    )
    lg = ranked.select(
        "token", "cnt", "rnk",
        F.log(F.col("rnk").cast("double")).alias("lx"),
        F.log(F.col("cnt").cast("double")).alias("ly"),
    )
    fit = lg.agg(
        (
            (F.count("*") * F.sum(F.col("lx") * F.col("ly"))
             - F.sum("lx") * F.sum("ly"))
            / (F.count("*") * F.sum(F.col("lx") * F.col("lx"))
               - F.sum("lx") * F.sum("lx"))
        ).alias("slope")
    )
    return (
        lg.filter(F.col("rnk") <= 20)
        .crossJoin(F.broadcast(fit))
        .select(
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("rnk").cast("int").alias("rnk"),
            F.round("slope", 4).alias("zipf_slope"),
        )
    )


# ---------------------------------------------------------------------------
# q100 — the curation funnel: retained documents per pipeline stage
# ---------------------------------------------------------------------------


def _q100_oracle() -> str:
    return f"""
    WITH qf AS ({ORACLES["q40_quality_filter"]}),
    cl AS ({_q42_oracle()}),
    sp AS ({ORACLES["q50_split_assign"]}),
    survivors AS (
        SELECT d.doc_id,
               qf.passes AS q_pass,
               coalesce(cl.is_canonical, TRUE) AS canonical,
               sp.split
        FROM documents d
        JOIN qf USING (doc_id) JOIN sp USING (doc_id)
        LEFT JOIN cl ON cl.doc_id = d.doc_id
    )
    SELECT 1 AS stage_no, 'raw' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           1.0 AS retained_rate
    FROM survivors
    UNION ALL
    SELECT 2, 'quality_pass', CAST(sum(CASE WHEN q_pass THEN 1 ELSE 0 END) AS BIGINT),
           round(sum(CASE WHEN q_pass THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
    FROM survivors
    UNION ALL
    SELECT 3, 'deduped', CAST(sum(CASE WHEN q_pass AND canonical THEN 1 ELSE 0 END) AS BIGINT),
           round(sum(CASE WHEN q_pass AND canonical THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 4)
    FROM survivors
    UNION ALL
    SELECT 4, 'train_split',
           CAST(sum(CASE WHEN q_pass AND canonical AND split = 'train'
                    THEN 1 ELSE 0 END) AS BIGINT),
           round(sum(CASE WHEN q_pass AND canonical AND split = 'train'
                     THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
    FROM survivors
    """


@_register("q100_curation_funnel", oracle=_q100_oracle())
def q100_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel: how many documents survive each pipeline stage
    (raw -> quality filter -> near-dup canonical -> train split), with the
    retained fraction — the one-look diagnosis of WHERE a corpus loses its
    volume, composed from the pipeline's own operators so the funnel and
    the pipeline cannot disagree.

    Scale shape: q40 is a narrow pass, cluster labels ride the shared
    checkpoint (broadcast), the split is a hash projection; the funnel
    itself is four scalar aggregates over ONE joined pass."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    qf = QUERIES["q40_quality_filter"](spark, sf_dir).select("doc_id", "passes")
    cl = QUERIES["q42_dedup_clusters"](spark, sf_dir).select("doc_id", "is_canonical")
    sp = QUERIES["q50_split_assign"](spark, sf_dir).select("doc_id", "split")
    s = (
        docs.join(qf, "doc_id")
        .join(sp, "doc_id")
        .join(F.broadcast(cl), "doc_id", "left")
        .select(
            "doc_id",
            F.col("passes").alias("q_pass"),
            F.coalesce("is_canonical", F.lit(True)).alias("canonical"),
            "split",
        )
    )
    n = F.count("*")
    q = F.sum(F.col("q_pass").cast("int"))
    qc = F.sum((F.col("q_pass") & F.col("canonical")).cast("int"))
    qct = F.sum(
        (F.col("q_pass") & F.col("canonical") & (F.col("split") == "train")).cast("int")
    )
    agg = s.agg(n.alias("n"), q.alias("q"), qc.alias("qc"), qct.alias("qct"))

    def stage(no, name, cnt_col, rate_col):
        return agg.select(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.col(cnt_col).cast("bigint").alias("n_docs"),
            rate_col.alias("retained_rate"),
        )

    return (
        stage(1, "raw", "n", F.lit(1.0))
        .unionByName(stage(2, "quality_pass", "q",
                           F.round(F.col("q").cast("double") / F.col("n"), 4)))
        .unionByName(stage(3, "deduped", "qc",
                           F.round(F.col("qc").cast("double") / F.col("n"), 4)))
        .unionByName(stage(4, "train_split", "qct",
                           F.round(F.col("qct").cast("double") / F.col("n"), 4)))
    )


# ---------------------------------------------------------------------------
# q104 — split-strategy agreement: naive hash splits vs cluster-aware splits
# ---------------------------------------------------------------------------


def _q104_oracle() -> str:
    return f"""
    WITH naive AS ({ORACLES["q50_split_assign"]}),
    aware AS ({ORACLES["q70_cluster_split"]})
    SELECT n.split AS naive_split, a.split AS cluster_split,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*)::DOUBLE / (SELECT count(*) FROM naive), 4) AS share
    FROM naive n JOIN aware a USING (doc_id)
    GROUP BY n.split, a.split
    """


@_register("q104_split_agreement", oracle=_q104_oracle())
def q104_split_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The confusion matrix between the naive per-document hash split
    (q50) and the leakage-free cluster-aware split (q70): how many
    documents MOVE when split assignment respects near-dup families, and
    between which cells.  The off-diagonal mass is exactly the population
    the naive strategy was leaking across boundaries — the number that
    justifies (or waives) the migration to family-keyed splits.

    Scale shape: both inputs are hash projections (q70 rides the shared
    cluster-label checkpoint); one equi-join on doc_id and a 9-cell
    aggregation with a broadcast scalar total."""
    naive = QUERIES["q50_split_assign"](spark, sf_dir).select(
        "doc_id", F.col("split").alias("naive_split")
    )
    aware = QUERIES["q70_cluster_split"](spark, sf_dir).select(
        "doc_id", F.col("split").alias("cluster_split")
    )
    joined = naive.join(aware, "doc_id")
    total = naive.agg(F.count("*").cast("double").alias("total"))
    return (
        joined.groupBy("naive_split", "cluster_split")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .crossJoin(F.broadcast(total))
        .select(
            "naive_split",
            "cluster_split",
            "n_docs",
            F.round(F.col("n_docs") / F.col("total"), 4).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# q107 — dedup savings: tokens the near-dup pass buys back, per source
# ---------------------------------------------------------------------------


def _q107_oracle() -> str:
    return f"""
    WITH cl AS ({_q42_oracle()}),
    t AS (
        SELECT doc_id, source, len({_TOKENS_SQL_DUCK}) AS n_toks FROM documents
    ), flagged AS (
        SELECT t.source, t.n_toks,
               cl.doc_id IS NOT NULL AND NOT cl.is_canonical AS dropped
        FROM t LEFT JOIN cl ON cl.doc_id = t.doc_id
    )
    SELECT source,
           CAST(sum(n_toks) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN dropped THEN 0 ELSE n_toks END) AS BIGINT)
               AS tokens_kept,
           CAST(sum(CASE WHEN dropped THEN n_toks ELSE 0 END) AS BIGINT)
               AS tokens_saved,
           round(sum(CASE WHEN dropped THEN n_toks ELSE 0 END)::DOUBLE
                 / sum(n_toks), 4) AS saved_rate
    FROM flagged GROUP BY source
    """


@_register("q107_dedup_savings", oracle=_q107_oracle())
def q107_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the near-dup pass is WORTH, in the pipeline's own currency:
    per source, total tokens, tokens kept after dropping non-canonical
    copies (q42), and the saved fraction — the line item that prices the
    LSH infrastructure against the compute it saves downstream (every
    saved token is a training FLOP not spent re-reading a duplicate).

    Scale shape: token counts are a narrow pass; cluster labels ride the
    shared checkpoint and BROADCAST; one (source) aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(F.expr(_TOKENS_EXPR_SPARK)).alias("n_toks")
    )
    cl = QUERIES["q42_dedup_clusters"](spark, sf_dir).select(
        "doc_id", "is_canonical"
    )
    flagged = t.join(F.broadcast(cl), "doc_id", "left").select(
        "source",
        "n_toks",
        (F.col("is_canonical").isNotNull() & ~F.col("is_canonical")).alias("dropped"),
    )
    kept = F.sum(F.when(F.col("dropped"), 0).otherwise(F.col("n_toks")))
    saved = F.sum(F.when(F.col("dropped"), F.col("n_toks")).otherwise(0))
    return flagged.groupBy("source").agg(
        F.sum("n_toks").cast("bigint").alias("tokens_total"),
        kept.cast("bigint").alias("tokens_kept"),
        saved.cast("bigint").alias("tokens_saved"),
        F.round(saved.cast("double") / F.sum("n_toks"), 4).alias("saved_rate"),
    )


# ---------------------------------------------------------------------------
# q110 — verified-pair Jaccard mass (threshold-tuning evidence)
# ---------------------------------------------------------------------------


@_register(
    "q110_jaccard_histogram",
    oracle=f"""
    WITH p AS ({ORACLES["q25_lsh_near_dup"]}),
    b AS (
        SELECT CAST(least(floor((jaccard - 0.5) / 0.05), 9) AS INT) AS bin FROM p
    )
    SELECT bin, round(0.5 + bin * 0.05, 2) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(count(*)::DOUBLE / (SELECT count(*) FROM b), 4) AS share
    FROM b GROUP BY bin
    """,
)
def q110_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the near-dup mass sits relative to the 0.5 verify bar: the
    verified pairs' Jaccard scores binned in 0.05 steps up to the exact-
    dup bin — mass piled against the threshold means the bar is cutting
    through a real cluster (raise-or-lower evidence an operator can act
    on), mass at 1.0 means plain copies dominate.

    Scale shape: rides the shared pair-graph checkpoint; binning is
    arithmetic and the aggregation has ten groups."""
    p = QUERIES["q25_lsh_near_dup"](spark, sf_dir)
    bin_ = F.least(F.floor((F.col("jaccard") - 0.5) / 0.05), F.lit(9)).cast("int")
    tot = p.agg(F.count("*").cast("double").alias("t"))
    return (
        p.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.round(0.5 + F.col("bin") * 0.05, 2).alias("bin_lo"),
            "n_pairs",
            F.round(F.col("n_pairs") / F.col("t"), 4).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# q111 — cross-source duplication matrix (mirror / scrape-overlap detector)
# ---------------------------------------------------------------------------


@_register(
    "q111_source_dup_matrix",
    oracle=f"""
    WITH p AS ({ORACLES["q25_lsh_near_dup"]})
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN jaccard = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact
    FROM p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY least(da.source, db.source), greatest(da.source, db.source)
    """,
)
def q111_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO duplicates WHOM: verified near-dup pairs attributed to their
    (source, source) cell, unordered — a hot off-diagonal cell is a
    mirror site or shared boilerplate between two crawls (drop one side),
    a hot diagonal cell is a source that re-posts itself.  The report
    that turns pair-level dedup into source-level curation decisions.

    Scale shape: the pair graph is bounded by real duplication and rides
    the shared checkpoint; two broadcast-able joins attach sources and
    one aggregation has |sources|^2 groups at most."""
    p = QUERIES["q25_lsh_near_dup"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    joined = p.join(da, "doc_a").join(db, "doc_b")
    return (
        joined.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum((F.col("jaccard") == 1.0).cast("int")).cast("bigint").alias("n_exact"),
        )
    )
