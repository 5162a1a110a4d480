"""Adversarial-depth tests for the connected-components primitive behind
q42, run on both of its paths against one union-find oracle: the driver
path (vectorised union-find over the collected edges, taken at or below
``_CC_DRIVER_MAX_EDGES``) and the distributed loop (taken above it; forced
here by setting the gate to -1, so that even an empty edge list takes it).
Plain min-label propagation needs diameter-many rounds (a 100-node chain
would blow the 20-round bound); the pointer-jumping loop collapses chains
geometrically, and union-find hooking does not depend on the diameter."""

from contextlib import contextmanager
from unittest import mock

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from supermusr_data_pipeline_spark.plans import text_dedup
from supermusr_data_pipeline_spark.plans.text_dedup import min_label_components

PATHS = ("driver", "loop")


@contextmanager
def cc_path(path):
    """Route min_label_components to one path and check that it ran."""
    gate = text_dedup._CC_DRIVER_MAX_EDGES if path == "driver" else -1
    helper = f"_{path}_components"
    with mock.patch.object(text_dedup, "_CC_DRIVER_MAX_EDGES", gate), mock.patch.object(
        text_dedup, helper, wraps=getattr(text_dedup, helper)
    ) as spy:
        yield
    assert spy.called, f"min_label_components did not take the {path} path"


def _edges(spark, pairs):
    df = spark.createDataFrame(pairs, "u bigint, v bigint")
    return df.union(df.select(F.col("v"), F.col("u")))


def _run_cc(spark, pairs):
    """{path: {node: label}} from each CC path over the same pairs."""
    out = {}
    for path in PATHS:
        with cc_path(path):
            out[path] = {
                r.node: r.label for r in min_label_components(_edges(spark, pairs)).collect()
            }
    return out


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_100_node_chain_converges(spark):
    """Diameter 99 — the case that kills diameter-bound propagation."""
    pairs = [(i, i + 1) for i in range(99)]
    for path, labels in _run_cc(spark, pairs).items():
        assert labels == {i: 0 for i in range(100)}, path


def test_two_chains_and_a_star(spark):
    pairs = (
        [(i, i + 1) for i in range(0, 30)]          # chain 0..30
        + [(i, i + 1) for i in range(100, 140)]      # chain 100..140
        + [(500, x) for x in range(501, 520)]        # star at 500
    )
    for path, labels in _run_cc(spark, pairs).items():
        assert all(v == 0 for n, v in labels.items() if n <= 30), path
        assert all(v == 100 for n, v in labels.items() if 100 <= n <= 140), path
        assert all(v == 500 for n, v in labels.items() if n >= 500), path


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 39), st.integers(0, 39)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=60,
    )
)
def test_matches_union_find(spark, pairs):
    assert _run_cc(spark, pairs) == {path: _union_find(pairs) for path in PATHS}


def test_empty_edge_list(spark):
    for path in PATHS:
        with cc_path(path):
            labels = min_label_components(_edges(spark, []))
            assert labels.dtypes == [("node", "bigint"), ("label", "bigint")], path
            assert labels.collect() == [], path


def test_duplicate_edges(spark):
    """Repeated pairs, and pairs listed in both directions, are one edge."""
    pairs = [(7, 3), (7, 3), (3, 7), (3, 7), (9, 7), (9, 7), (20, 21), (21, 20), (20, 21)]
    assert _run_cc(spark, pairs) == {path: _union_find(pairs) for path in PATHS}


@pytest.mark.parametrize("converges", (True, False))
@pytest.mark.parametrize("path", PATHS)
def test_leaves_session_conf_alone(spark, path, converges):
    """Neither path writes session conf, whether it returns or raises: a
    query planned concurrently in the same session keeps its own AQE and
    shuffle-partition settings."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    edges = _edges(spark, [(i, i + 1) for i in range(63)])
    no_writes = mock.patch.object(
        RuntimeConfig, "set", side_effect=AssertionError("session conf written")
    )
    with cc_path(path), no_writes:
        if converges:
            assert min_label_components(edges).count() == 64
        else:
            with pytest.raises(RuntimeError, match="did not converge"):
                min_label_components(edges, max_rounds=1)
    assert {k: spark.conf.get(k) for k in keys} == before
