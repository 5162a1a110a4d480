"""Retrieval tier gates: the postings-index probe must actually prune
term buckets (PartitionFilters with the probed tb literals), q114 must
equal q112 value-for-value (same oracle, but pin it directly too) and
keep its job count on a corpus that fills every term bucket, and the
phrase search must agree with a brute-force Python scan of the
corpus."""

import contextlib
import io
import os
import random
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from test_shared_intermediates import _job_ids

import __spark_entry__ as entry_mod
from supermusr_data_pipeline_spark.plans import retrieval

SF_DIR = "/root/testdata/sf0.001"


def test_q114_equals_q112_value_for_value(spark):
    a = sorted(tuple(r) for r in entry_mod.queries()["q112_bm25_topk"](spark, SF_DIR).collect())
    b = sorted(tuple(r) for r in entry_mod.queries()["q114_bm25_indexed"](spark, SF_DIR).collect())
    assert a == b


def test_postings_probe_carries_partition_filters(spark):
    df = entry_mod.queries()["q114_bm25_indexed"](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[[^\]]*tb[^\]]*IN \(([^)]*)\)", plan)
    assert m, f"postings scan lost its tb partition filter:\n{plan[:2000]}"
    probed = {int(x) for x in m.group(1).split(",")}
    assert 0 < len(probed) <= retrieval._BM25_N_QUERIES, probed
    assert len(probed) < retrieval._N_TERM_BUCKETS, (
        "probe reads every bucket — no pruning"
    )


def test_phrase_search_agrees_with_python_scan(spark):
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    got = {
        r.doc_id: (r.n_occurrences, r.first_pos, r.phrase)
        for r in entry_mod.queries()["q113_phrase_search"](spark, SF_DIR).collect()
    }
    assert got, "phrase search found nothing"
    phrase = next(iter(got.values()))[2].split(" ")
    want = {}
    for doc_id, text in rows:
        toks = text.split()
        hits = [
            i + 1
            for i in range(len(toks) - 1)
            if toks[i] == phrase[0] and toks[i + 1] == phrase[1]
        ]
        if hits:
            want[doc_id] = (len(hits), hits[0])
    assert {k: (v[0], v[1]) for k, v in got.items()} == want


def test_q114_on_full_bucket_corpus_matches_oracle_in_six_jobs(
    spark, tmp_path
):
    """5000 documents over a 5000-word vocabulary fill all 64 term
    buckets (no bundled corpus fills more than 32).  q114 matches its
    oracle there, and a probe of the built index takes 6 Spark jobs:
    every artifact is read with its named schema, so none runs a
    schema-inference job (four did), and the 64 bucket directories are
    listed on the driver, not by a distributed listing job."""
    sf = tmp_path / "gen5000"
    sf.mkdir()
    rng = random.Random(5000)
    vocab = [f"w{k:04d}" for k in range(5000)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 14)))
        for _ in range(5000)
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(5000), pa.int64()),
                "text": texts,
                "lang": ["en"] * 5000,
                "source": ["s1"] * 5000,
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        sf / "documents.parquet",
    )
    q114 = entry_mod.queries()["q114_bm25_indexed"]
    got = sorted(tuple(r) for r in q114(spark, str(sf)).collect())
    index = retrieval.postings_index_path(
        str(sf), spark.sparkContext.applicationId
    )
    buckets = os.listdir(os.path.join(index, "postings"))
    assert len([b for b in buckets if b.startswith("tb=")]) == 64

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    want = sorted(
        con.execute(entry_mod.oracle_sql(str(sf))["q114_bm25_indexed"])
        .fetchall()
    )
    assert len(got) == len(want) > 0
    assert [(t, d, round(s, 6), r) for t, d, s, r in got] == [
        (t, d, round(s, 6), r) for t, d, s, r in want
    ]

    jobs = _job_ids(spark, "q114-job-pin", lambda: q114(spark, str(sf)).collect())
    assert len(jobs) == 6
