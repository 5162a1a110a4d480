"""Scale-factor-aware oracle parity at sf0.1 for the PARAMETERIZED query
family — the queries whose Spark plans select per-corpus constants
(IVF codebook + probe count via _codebook, ADC shortlist via
_pq_shortlist).  Their oracles are factories of sf_dir, so a correctness
run at sf0.1 must compare against SQL generated with the sf0.1
parameters; this test is the gate that the two sides of the contract
stay in lockstep if the driver ever moves its correctness scale.

The full-registry parity run stays at sf0.001/ORACLE_SF_DIR in
test_oracle_parity.py; only the parameterized family needs the second
scale point (everything else resolves to the same SQL at every sf).
"""

import pytest

import __spark_entry__ as entry_mod

from tests.test_oracle_parity import _normalize


# slow set (pytest.ini deselects by default; opt in with -m slow):
# multi-minute soak / streaming end-to-end / large-SF coverage whose
# operators' value-correctness stays pinned by the default sf0.001
# parity + plan audits
pytestmark = pytest.mark.slow

SF01 = "/root/testdata/sf0.1"

# every query registered with an oracle FACTORY (callable of sf_dir)
PARAMETERIZED = sorted(
    name
    for name, o in entry_mod.relational.ORACLES.items()
    if callable(o)
)


def test_parameterized_family_is_exactly_the_factory_set():
    """Pin the factory set: a new per-corpus-parameterized query must land
    here (and get sf0.1 coverage below) to pass."""
    assert PARAMETERIZED == [
        "q29_ivf_ann",
        "q47_ann_recall",
        "q48_ivf_cell_stats",
        "q51_ivf_sq8_ann",
        "q58_semantic_dedup",
        "q64_ivf_indexed_probe",
        "q76_ivf_sq8_indexed",
        "q78_ivf_pq_ann",
        "q96_pq_indexed",
    ]


def test_oracles_differ_by_scale_where_parameters_do():
    """The sf0.1 SQL must actually carry the sf0.1 parameters (K=24
    codebook / probe 15 / shortlist 96), not the sf0.01 snapshot."""
    at_001 = entry_mod.oracle_sql("/root/testdata/sf0.01")
    at_01 = entry_mod.oracle_sql(SF01)
    for name in PARAMETERIZED:
        assert at_001[name] != at_01[name], f"{name}: oracle ignores sf_dir"
    # and the static family resolves identically at every scale
    static = set(at_001) - set(PARAMETERIZED)
    assert all(at_001[n] == at_01[n] for n in static)


def _duck_sf01(sql: str):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF01}/{t}.parquet')"
        )
    return con.execute(sql).fetch_df()


@pytest.mark.parametrize("name", PARAMETERIZED)
def test_parameterized_query_matches_oracle_at_sf01(spark, name):
    sdf = entry_mod.queries()[name](spark, SF01)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    pdf = _duck_sf01(entry_mod.oracle_sql(SF01)[name])
    duck_cols = [c.lower() for c in pdf.columns]
    duck_rows = [tuple(r) for r in pdf.itertuples(index=False)]

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"
    ns = _normalize(spark_rows, spark_cols)
    nd = _normalize(duck_rows, duck_cols)
    mismatches = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatching rows at sf0.1; first: "
        f"spark={ns[mismatches[0]]} duck={nd[mismatches[0]]}"
    )
