"""corpus_curation: the LLM-data path, in pipeline order in one session.

q25 (LSH near-dup pairs) -> q42 (dedup clusters) -> q46 (curated corpus)
-> ``incremental.write_lsh_index`` (index build) -> q82 (indexed
incremental dedup, the index probe) -> q78 (IVF-PQ ANN) -> q112 (BM25
top-k) -> q116 (hybrid BM25 + cosine fusion), after
``text_dedup.clear_shared_cache()``.

The corpus is the sf0.1 documents/embeddings tables stored under
``data/sf0.1`` (5000 documents, 2000 vectors, generated at seed 42), so
this workload ignores ``--seed``.  Every query result must match the
digest of its DuckDB oracle stored in ``oracle_digests.json``.

The pass runs once, in a fresh session, as a curation job does: set-up is
the session start, and the pass pays the JVM's and the Python workers'
first-use costs (about 19 s of its 44 s on a 4-vCPU VM; a second pass
in the same session takes about 25 s).
"""

from __future__ import annotations

import json
import os
import time

import sparkenv
import stagemetrics
from common import HERE, Tracer, median, peak_rss_mb

SF_DIR = os.path.join(HERE, "data", "sf0.1")
STAGES = [
    ("q25", "q25_lsh_near_dup", "text_dedup"),
    ("q42", "q42_dedup_clusters", "text_dedup"),
    ("q46", "q46_curated_corpus", "text_dedup"),
    ("lsh_build", None, "incremental"),
    ("q82", "q82_indexed_incremental", "incremental"),
    ("q78", "q78_ivf_pq_ann", "vector_pq"),
    ("q112", "q112_bm25_topk", "retrieval"),
    ("q116", "q116_hybrid_rrf", "retrieval"),
]
ONE_CORE_STAGES = ("q25", "q42", "q46")  # the 1-core baseline's subset


def _pipeline(spark, sf_dir: str) -> tuple[dict, dict]:
    """One pass; returns ({stage: (start, end)}, {query: rows})."""
    import __spark_entry__ as entry
    from supermusr_data_pipeline_spark.plans import incremental
    from supermusr_data_pipeline_spark.plans.text_dedup import clear_shared_cache

    qs = entry.queries()
    clear_shared_cache()
    times, results = {}, {}
    for stage, query, _layer in STAGES:
        with sparkenv.job_group(spark, stage) as box:
            if query is None:
                incremental.write_lsh_index(
                    spark, sf_dir, incremental.lsh_index_path(sf_dir))
                # q82 then probes this index instead of building its own
                incremental._BUILT[(spark.sparkContext.applicationId, sf_dir)] = True
            else:
                df = qs[query](spark, sf_dir)
                results[query] = (df.columns, df.collect())
        times[stage] = (box["start"], box["end"])
    return times, results


def _check(results) -> list[str]:
    from digest import digest

    with open(os.path.join(HERE, "oracle_digests.json")) as fh:
        oracle = json.load(fh)
    return [
        q for q, (cols, rows) in results.items()
        if digest(cols, [tuple(r) for r in rows]) != oracle[q]
    ]


def run(seed: int, seconds: int, traced: bool, workdir: str) -> dict:
    del seed, seconds  # fixed corpus; one pipeline pass is the measurement
    t0 = time.monotonic()
    spark = sparkenv.start("perfbench-corpus_curation", 4, workdir)
    try:
        setup_s = time.monotonic() - t0
        times, results = _pipeline(spark, SF_DIR)
        wall = max(e for _s, e in times.values()) - min(s for s, _e in times.values())
        bad = _check(results)
        attempted, failed = len(STAGES), len(bad)
        rss = peak_rss_mb()
        layers, tracer = {}, Tracer()
        if traced:
            t_read = time.monotonic()
            _layers(stagemetrics.read_groups(spark), times, wall, layers, tracer)
            # the pass itself runs the same traced or not (job groups are
            # set in both); tracing adds the status-store read after it
            layers["trace.overhead_s"] = (time.monotonic() - t_read, "s")
            ratio, spark = _one_core_speedup(spark, workdir)
            layers["spark.speedup_vs_1core"] = (ratio, "ratio")
    finally:
        sparkenv.stop(spark)
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "latency_p50_ms": (median([(e - s) * 1000 for s, e in times.values()]), "ms"),
        "peak_rss_mb": (rss, "MB"),
    }
    human = {f"stage_s.{stage}": (e - s, "s") for stage, (s, e) in times.items()}
    human["failed_share"] = (failed / attempted, "ratio")
    for q in bad:
        print(f"  MISMATCH {q}: result digest differs from its oracle")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "human": human,
        "tracer": tracer,
    }


def _one_core_speedup(spark, workdir: str):
    """q25 -> q42 -> q46 once more at local[4], then in a local[1] session
    on the same (now warm) JVM; returns (1-core / 4-core time, the
    local[1] session).  Both sides are warm, so the ratio is core scaling
    alone; a full pass at one core would not fit the run's time limit."""
    import __spark_entry__ as entry
    from supermusr_data_pipeline_spark.plans.text_dedup import clear_shared_cache

    def subset(session) -> float:
        clear_shared_cache()
        qs = entry.queries()
        t0 = time.monotonic()
        for stage, query, _layer in STAGES:
            if stage in ONE_CORE_STAGES:
                qs[query](session, SF_DIR).collect()
        return time.monotonic() - t0

    t4 = subset(spark)
    spark.stop()
    spark = sparkenv.start("perfbench-corpus_curation-1core", 1, workdir)
    return subset(spark) / t4, spark


def _layers(groups, times, wall, layers, tracer) -> None:
    from supermusr_data_pipeline_spark.plans import text_dedup

    total = stagemetrics.GroupMetrics()
    t0 = min(s for s, _e in times.values())
    tracer.add("corpus_curation.pass", "pass", t0, t0 + wall)
    for stage, _query, layer in STAGES:
        g = groups.get(stage, stagemetrics.GroupMetrics())
        s, e = times[stage]
        layers[f"{layer}.{stage}_s"] = (e - s, "s")
        layers[f"{layer}.{stage}_jobs"] = (g.jobs, "count")
        layers[f"{layer}.{stage}_tasks"] = (g.tasks, "count")
        tracer.add(f"{layer}.{stage}", stage, s, e, "corpus_curation.pass",
                   jobs=g.jobs, tasks=g.tasks)
        total.add(g)
    layers["text_dedup.cc_rounds"] = (text_dedup.LAST_CC_ROUNDS or 0, "count")
    layers["retrieval.q116_exchanges"] = (
        groups.get("q116", stagemetrics.GroupMetrics()).exchanges, "count")
    stagemetrics.spark_layers(layers, total, wall, 4, 1)
