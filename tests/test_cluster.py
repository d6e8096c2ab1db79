"""Connected-components operator (operators/cluster.py)."""

from __future__ import annotations

import pytest

from hha_spark.operators import cluster
from hha_spark.operators.cluster import cluster_members, connected_components


def _labels(df) -> dict[int, int]:
    return {r.node: r.label for r in df.collect()}


def test_transitive_chain_and_separate_pair(spark):
    """A~B, B~C, C~D is ONE cluster even though A and D never pair."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_id_a long, doc_id_b long"
    )
    assert _labels(connected_components(edges)) == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
    }


def test_cycle_and_reversed_edges(spark):
    """Cycles and arbitrary edge orientation don't matter."""
    edges = spark.createDataFrame(
        [(7, 5), (5, 6), (6, 7), (9, 8)], "doc_id_a long, doc_id_b long"
    )
    assert _labels(connected_components(edges)) == {
        5: 5, 6: 5, 7: 5, 8: 8, 9: 8,
    }


@pytest.fixture()
def distributed(monkeypatch):
    """Force the distributed min-label loop: no graph fits the
    driver union-find envelope."""
    monkeypatch.setattr(cluster, "SMALL_GRAPH_EDGES", 0)


def test_long_chain_converges_logarithmically(spark, distributed):
    """Path compression: a 64-node chain must close in far fewer than
    64 rounds (~log2 diameter + slack), not diameter rounds."""
    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_id_a long, doc_id_b long"
    )
    out = _labels(connected_components(edges, max_rounds=14))
    assert set(out.values()) == {0}
    assert len(out) == n + 1


def test_non_convergence_raises(spark, distributed):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "doc_id_a long, doc_id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_rounds=1)


def test_cluster_members_sizes(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_id_a long, doc_id_b long"
    )
    rows = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in cluster_members(edges).collect()
    }
    assert rows == {1: (1, 3), 2: (1, 3), 3: (1, 3), 10: (10, 2), 11: (10, 2)}


# --- property: Spark CC == reference union-find ----------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node of the component
    members: dict[int, list[int]] = {}
    for n in parent:
        members.setdefault(find(n), []).append(n)
    return {n: min(ms) for r, ms in members.items() for n in ms}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edges_strategy)
def test_cc_matches_union_find(spark, edges):
    # default path: these graphs take the driver union-find fast path,
    # checked against the test's independent union-find
    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    assert _labels(connected_components(df)) == _union_find_labels(edges)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edges_strategy)
def test_cc_distributed_matches_union_find(spark, distributed, edges):
    # the forced distributed min-label loop, so the adaptive kernel's
    # two physical strategies are both pinned to the same labelling
    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    assert _labels(connected_components(df)) == _union_find_labels(edges)


def test_canonical_pick_one_per_cluster(spark):
    """Exactly one canonical per cluster; it's the longest doc
    (doc_id tiebreak) and every member points at it."""
    from hha_spark.queries.llm_ops import dedup_canonical_pick

    out = dedup_canonical_pick(spark, "/root/testdata/sf0.001").toPandas()
    for cid, grp in out.groupby("cluster_id"):
        assert grp["is_canonical"].sum() == 1
        best = grp.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).iloc[0]["doc_id"]
        assert (grp["canonical_doc_id"] == best).all()
        assert len(grp) == grp["cluster_size"].iloc[0]
