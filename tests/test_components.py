"""Connected components (large-star/small-star) vs a union-find oracle."""

import random

import pandas as pd
import pytest

from gdalcubes_spark.pipeline.components import connected_components, dedup_clusters


def _uf_oracle(edges):
    parent = {}

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
    # canonical min per component
    comp = {}
    for n in list(parent):
        r = find(n)
        comp.setdefault(r, []).append(n)
    out = {}
    for r, members in comp.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _check(spark, edges):
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["ida", "idb"]))
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    want = _uf_oracle(edges)
    assert got == want


class TestConnectedComponents:
    def test_long_path(self, spark):
        """Path graph: min-label propagation needs O(n) rounds; the
        alternating algorithm must finish within the O(log n) budget."""
        _check(spark, [(i, i + 1) for i in range(60)])

    def test_two_cliques_and_bridge(self, spark):
        edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
        edges += [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
        edges += [(4, 100)]  # merge them
        _check(spark, edges)

    def test_random_graph(self, spark):
        rng = random.Random(7)
        nodes = list(range(0, 400, 3))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(300)]
        edges = [(a, b) for a, b in edges if a != b]
        _check(spark, edges)

    def test_roots_label_themselves(self, spark):
        """connected_components returns every component's root with its own
        id; dedup_clusters labels from the map without them."""
        from gdalcubes_spark.pipeline.components import _component_map
        df = spark.createDataFrame(pd.DataFrame({"ida": [1, 1, 10, 20], "idb": [2, 3, 11, 21]}))
        got = {r["id"]: r["component"] for r in connected_components(df).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}
        assert {r["id"] for r in _component_map(df).collect()} == {2, 3, 11, 21}

    def test_dedup_clusters_labels_singletons(self, spark):
        corpus = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3, 4, 5]}))
        pairs = spark.createDataFrame(pd.DataFrame({"ida": [1, 2], "idb": [2, 3]}))
        out = {r["doc_id"]: (r["cluster"], r["cluster_size"], r["keep"])
               for r in dedup_clusters(corpus, pairs).collect()}
        assert out[1] == (1, 3, True)
        assert out[2] == (1, 3, False)
        assert out[3] == (1, 3, False)
        assert out[4] == (4, 1, True)
        assert out[5] == (5, 1, True)


class TestRoundZeroStarCheck:
    """The round-0 check skips every round only for an input that already
    is a star forest centred on each component's minimum."""

    @staticmethod
    def _run(spark, monkeypatch, edges):
        import gdalcubes_spark.pipeline.components as C
        rounds = {"n": 0}
        orig = C._small_star

        def counting(e):
            rounds["n"] += 1
            return orig(e)

        monkeypatch.setattr(C, "_small_star", counting)
        df = spark.createDataFrame(edges, "ida long, idb long")
        return {r["id"]: r["component"] for r in connected_components(df).collect()}, rounds["n"]

    def test_star_centred_on_non_minimum(self, spark, monkeypatch):
        got, rounds = self._run(spark, monkeypatch, [(9, 1), (9, 2)])
        assert got == {1: 1, 2: 1, 9: 1}
        assert rounds >= 2

    def test_node_both_centre_and_leaf(self, spark, monkeypatch):
        got, rounds = self._run(spark, monkeypatch, [(4, 2), (6, 4)])
        assert got == {2: 2, 4: 2, 6: 2}
        assert rounds >= 2

    def test_both_orientations_and_duplicate(self, spark, monkeypatch):
        got, rounds = self._run(spark, monkeypatch, [(1, 2), (2, 1), (1, 2), (3, 1)])
        assert got == {1: 1, 2: 1, 3: 1}
        assert rounds == 0

    def test_self_loop(self, spark, monkeypatch):
        # a self-loop is no edge: 7 has no other edge, so it is not labelled
        got, rounds = self._run(spark, monkeypatch, [(5, 5), (5, 6), (7, 7)])
        assert got == {5: 5, 6: 5}
        assert rounds == 0
