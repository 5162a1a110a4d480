"""Regenerate ``oracle_digests.json``: the DuckDB oracle digest of every
query the ``corpus_curation`` workload runs, at the corpus stored under
``perfbench/data/sf0.1``.

The oracles of q42/q46/q78 take one to several minutes each, so the
benchmark compares against these stored digests instead of running the
oracle on every run.  Re-run this script (from the repository root) only
when a query's oracle SQL or the stored corpus changes::

    python3 perfbench/make_oracle_digests.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from digest import digest  # noqa: E402

SF_DIR = os.path.join(HERE, "data", "sf0.1")
QUERIES = [
    "q25_lsh_near_dup",
    "q42_dedup_clusters",
    "q46_curated_corpus",
    "q82_indexed_incremental",
    "q78_ivf_pq_ann",
    "q112_bm25_topk",
    "q116_hybrid_rrf",
]


def main() -> None:
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql(SF_DIR)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(SF_DIR, t + '.parquet')}')"
        )
    out = {}
    for name in QUERIES:
        t0 = time.perf_counter()
        cur = con.execute(sql[name])
        cols = [d[0] for d in cur.description]
        out[name] = digest(cols, cur.fetchall())
        print(f"{name}: {out[name]} in {time.perf_counter() - t0:.1f} s",
              flush=True)
    with open(os.path.join(HERE, "oracle_digests.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
