"""Connected components vs a union-find oracle on hypothesis-generated
graphs — pathological shapes (chains, stars, cliques, forests) the planted
e2e corpus doesn't produce (operators/connected_components.py)."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from near_duplicate_detection_spark.operators.connected_components import (
    connected_components,
)

edges_strategy = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1,
    max_size=80,
)


def _oracle(edges: list[tuple[int, int]]) -> dict[str, set[str]]:
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(f"n{a}"), find(f"n{b}")
        if ra != rb:
            parent[ra] = rb
    groups: dict[str, set[str]] = {}
    for n in parent:
        groups.setdefault(find(n), set()).add(n)
    return groups


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges_strategy)
def test_cc_matches_union_find(spark, edges):
    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "url_a string, url_b string"
    )
    labels = connected_components(df).toPandas()
    got = {
        frozenset(grp.url)
        for _, grp in labels.groupby("label")
    }
    want = {frozenset(g) for g in _oracle(edges).values()}
    assert got == want


@settings(max_examples=200, deadline=None)
@given(edges_strategy)
def test_driver_union_find_matches_oracle_and_min_label(edges):
    """The driver-side union-find (cluster_label_delta's one CC solver)
    must produce the oracle's partition AND label every node with the
    lexicographic component MIN — the invariant that makes the contraction
    delta equal a full connected_components rebuild. Pure Python: no Spark."""
    from near_duplicate_detection_spark.operators.delta import (
        _driver_union_find,
    )

    labels = _driver_union_find([(f"n{a}", f"n{b}") for a, b in edges])
    groups: dict[str, set[str]] = {}
    for node, label in labels.items():
        groups.setdefault(label, set()).add(node)
    assert {frozenset(g) for g in groups.values()} == {
        frozenset(g) for g in _oracle(edges).values()
    }
    for label, members in groups.items():
        assert label == min(members)


def test_cc_long_chain_converges(spark):
    """A 200-node path graph: diameter ≫ pointer-jumping rounds — must still
    converge to one component within max_iter."""
    n = 200
    df = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(n - 1)],
        "url_a string, url_b string",
    )
    labels = connected_components(df).toPandas()
    assert labels.label.nunique() == 1
    assert len(labels) == n
