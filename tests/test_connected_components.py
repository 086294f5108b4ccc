"""connected_components: agreement with a pure-Python union-find, the
round count at the ``max_rounds`` boundary, the per-round plan shape,
and no cached edge set left behind when a round fails."""

from __future__ import annotations

import random
import re

import pytest
from pyspark import StorageLevel

from ecommerce_dataengineering_project_spark.operators import dedup


def _union_find(edges, nodes) -> dict:
    """Reference labelling: each node of ``nodes`` -> its component's
    minimum id, over every edge (endpoints outside ``nodes`` still
    connect the nodes they touch)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _run(spark, edges, nodes, **kw) -> dict:
    e = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
    n = spark.createDataFrame([(x,) for x in nodes], "doc_id BIGINT")
    return {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(e, n, **kw).collect()
    }


def _random_graph(rnd: random.Random, n_nodes: int, n_edges: int, base: int = 0):
    """Edges over ``base .. base + n_nodes`` with duplicates, both
    orientations of some pairs and some self-edges."""
    edges = [
        (base + rnd.randrange(n_nodes), base + rnd.randrange(n_nodes))
        for _ in range(n_edges)
    ]
    edges += rnd.sample(edges, 8)
    edges += [(b, a) for a, b in rnd.sample(edges, 8)]
    edges += [(base + v, base + v) for v in rnd.sample(range(n_nodes), 4)]
    rnd.shuffle(edges)
    return edges


def test_matches_union_find(spark):
    """Random graphs with duplicate, reversed and self edges; an empty
    edge set; edge endpoints missing from ``nodes``; 2^59+ ids."""
    rnd = random.Random(5)
    cases = []
    cases.append((_random_graph(rnd, 30, 40), list(range(33))))
    cases.append(([], [1, 2, 3]))
    # 5 and 7 join 1 and 9 through nodes that are not in `nodes`;
    # 40 - 41 is an edge with no endpoint in `nodes`
    cases.append(([(1, 5), (5, 9), (7, 9), (2, 3), (40, 41)], [1, 2, 3, 9, 12]))
    base = 1 << 59
    cases.append(
        (_random_graph(rnd, 20, 30, base=base), [base + i for i in range(22)])
    )
    for edges, nodes in cases:
        want = _union_find(edges, nodes)
        assert _run(spark, edges, nodes, on_exhausted="raise") == want, edges


@pytest.fixture
def rounds(monkeypatch):
    """Count ``_checkpoint_signed`` calls (one per round) and keep each
    round's optimized plan."""
    plans: list[str] = []
    signed = dedup._checkpoint_signed

    def recorded(df, *a, **kw):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return signed(df, *a, **kw)

    monkeypatch.setattr(dedup, "_checkpoint_signed", recorded)
    return plans


def _joins(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if re.match(r"^[\s:+\-|!]*Join\b", ln)]


@pytest.mark.parametrize("n", [2, 5])
def test_path_boundary(spark, rounds, n):
    """A path of n nodes needs n - 1 rounds to reach the fixpoint and
    one more to see it: it converges at max_rounds = n, raises below."""
    path = [(i, i + 1) for i in range(1, n)]
    assert _run(spark, path, range(1, n + 1), max_rounds=n, on_exhausted="raise") == {
        v: 1 for v in range(1, n + 1)
    }
    assert len(rounds) == n
    rounds.clear()
    with pytest.raises(RuntimeError, match="did not converge"):
        _run(spark, path, range(1, n + 1), max_rounds=n - 1, on_exhausted="raise")
    assert len(rounds) == n - 1


def test_round_count_and_plans(spark, rounds):
    """A diameter-1 graph takes 2 rounds and no edges takes 1. Round 1
    plans no join; a later round plans exactly one inner join."""
    assert _run(spark, [(1, 2), (2, 3), (1, 3), (1, 2)], [1, 2, 3, 4]) == {
        1: 1, 2: 1, 3: 1, 4: 4
    }
    assert len(rounds) == 2
    first, second = rounds
    assert _joins(first) == [], first
    assert len(_joins(second)) == 1, second
    assert "LeftOuter" not in second, second
    rounds.clear()
    assert _run(spark, [], [1, 2]) == {1: 1, 2: 2}
    assert len(rounds) == 1


@pytest.mark.parametrize("fail_at", [1, 2])
def test_failed_round_leaves_nothing_cached(spark, monkeypatch, fail_at):
    """An error inside the round loop still unpersists the edge set."""
    df_cls = type(spark.range(1))
    cache = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache.isEmpty()
    persisted: list = []
    persist = df_cls.persist

    def recorded_persist(self, *a, **kw):
        persisted.append(self)
        return persist(self, *a, **kw)

    signed = dedup._checkpoint_signed
    calls = []

    def failing(*a, **kw):
        calls.append(1)
        if len(calls) == fail_at:
            raise RuntimeError("injected round failure")
        return signed(*a, **kw)

    monkeypatch.setattr(df_cls, "persist", recorded_persist)
    monkeypatch.setattr(dedup, "_checkpoint_signed", failing)
    with pytest.raises(RuntimeError, match="injected round failure"):
        _run(spark, [(1, 2), (2, 3)], [1, 2, 3])
    assert persisted
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
    if was_empty:
        assert cache.isEmpty()
