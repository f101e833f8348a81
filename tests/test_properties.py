"""Hypothesis property tests for normalization + census invariants, and
skew-graph strategy equality (SURVEY §5.6 smoke)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pgd_spark.graph import Graph, normalize_edges
from pgd_spark.operators.graphlets import check_identities, edge_graphlet_counts, macro_counts
from tests.conftest import make_graph

edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=120
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(edge_lists)
def test_normalize_canonical_and_idempotent(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    n1 = normalize_edges(df)
    rows = [(r["src"], r["dst"]) for r in n1.collect()]
    # canonical: src < dst, no dupes, matches the set-normalized input
    assert all(a < b for a, b in rows)
    assert len(set(rows)) == len(rows)
    want = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    assert set(rows) == want
    # idempotent
    n2 = normalize_edges(n1)
    assert sorted((r["src"], r["dst"]) for r in n2.collect()) == sorted(rows)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(edge_lists)
def test_identities_hold_on_arbitrary_graphs(spark, edges):
    g = Graph.from_edges(spark.createDataFrame(edges, "src long, dst long"))
    if g.num_edges() == 0:
        return
    t = macro_counts(g, strategy="broadcast")
    assert all(check_identities(t).values())
    # every total non-negative
    assert all(v >= 0 for k, v in t.items() if k.startswith("total"))


def test_skewed_hub_graph_strategy_equality(spark):
    """Hub-heavy graph (star hubs + random tail): both physical
    strategies agree edge-for-edge — skew handling changes plans,
    never results.  The graph is fed twice: normalized (shuffled edge
    order), and canonical with its edges sorted by src, so every hub
    edge sits in one contiguous block of the arrays the broadcast
    strategy collects (one task per core over contiguous id ranges of
    the hash-permuted oriented edges)."""
    import random

    rng = random.Random(5)
    edges = [(0, i) for i in range(1, 120)]           # hub 0
    edges += [(1, i) for i in range(60, 180)]          # hub 1 overlapping
    edges += [(rng.randrange(2, 180), rng.randrange(2, 180)) for _ in range(300)]
    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    hub_sorted = spark.createDataFrame(canon, "src long, dst long")
    assert [tuple(r) for r in hub_sorted.toPandas().itertuples(index=False)] == canon
    for g in (make_graph(spark, edges), Graph(hub_sorted, already_canonical=True)):
        a = sorted(map(tuple, edge_graphlet_counts(g, "broadcast").collect()))
        b = sorted(map(tuple, edge_graphlet_counts(g, "distributed").collect()))
        assert len(a) == len(canon)
        assert a == b
