"""Differential tests for operators/graph.py: the degree-ordered-
orientation triangle counter must reproduce brute-force enumeration
over random and planted graphs."""

from itertools import combinations

import numpy as np
import pandas as pd

from mpds_spark.operators.graph import co_occurrence_edges, triangle_stats
from mpds_spark.operators.util import release_scratch


def _brute(edges):
    """node -> (degree, triangles) by enumerating all vertex triples."""
    es = {tuple(sorted(e)) for e in edges}
    nodes = sorted({n for e in es for n in e})
    adj = {n: set() for n in nodes}
    for a, b in es:
        adj[a].add(b)
        adj[b].add(a)
    tri = {n: 0 for n in nodes}
    for x, y, z in combinations(nodes, 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            tri[x] += 1
            tri[y] += 1
            tri[z] += 1
    return {n: (len(adj[n]), tri[n]) for n in nodes}


def test_triangle_stats_matches_bruteforce(spark):
    rng = np.random.default_rng(7)
    edges = {
        tuple(sorted(p))
        for p in zip(rng.integers(0, 30, 250), rng.integers(0, 30, 250))
        if p[0] != p[1]
    }
    pdf = pd.DataFrame(sorted(edges), columns=["a", "b"])
    got = (
        triangle_stats(spark.createDataFrame(pdf))
        .orderBy("node")
        .toPandas()
        .set_index("node")
    )
    release_scratch()
    want = _brute(edges)
    assert len(got) == len(want)
    for n, (deg, tri) in want.items():
        r = got.loc[n]
        assert (r["degree"], r["triangles"]) == (deg, tri), n
        cc = 2.0 * tri / (deg * (deg - 1)) if deg >= 2 else 0.0
        assert abs(r["clustering"] - cc) < 1e-12


def test_triangle_stats_planted(spark):
    """K4 (every node in 3 triangles, clustering 1.0) + a pendant node
    (degree 1, zero triangles) + a triangle-free path."""
    edges = (
        list(combinations([0, 1, 2, 3], 2))  # K4
        + [(3, 4)]  # pendant off the clique
        + [(10, 11), (11, 12)]  # path: no triangles
    )
    pdf = pd.DataFrame(edges, columns=["a", "b"])
    got = (
        triangle_stats(spark.createDataFrame(pdf))
        .orderBy("node")
        .toPandas()
        .set_index("node")
    )
    release_scratch()
    for n in [0, 1, 2]:
        assert got.loc[n, "triangles"] == 3
        assert got.loc[n, "clustering"] == 1.0
    assert got.loc[3, "degree"] == 4
    assert got.loc[3, "triangles"] == 3
    assert abs(got.loc[3, "clustering"] - 0.5) < 1e-12
    assert got.loc[4, "degree"] == 1
    assert got.loc[4, "triangles"] == 0
    assert got.loc[4, "clustering"] == 0.0
    assert got.loc[11, "triangles"] == 0


def test_co_occurrence_edges_canonical(spark):
    """Edges are distinct, a < b, quadratic only per basket — duplicate
    rows and repeated items inside a basket collapse."""
    rows = [
        (1, 10), (1, 20), (1, 20), (1, 30),
        (2, 20), (2, 10),  # duplicate pair in another basket
        (3, 99),           # singleton basket: no edges
    ]
    pdf = pd.DataFrame(rows, columns=["basket_id", "item_id"])
    got = {
        (r["a"], r["b"])
        for r in co_occurrence_edges(spark.createDataFrame(pdf))
        .collect()
    }
    assert got == {(10, 20), (10, 30), (20, 30)}


def test_pagerank_matches_python_power_iteration(spark):
    """pagerank's join-sweep must equal the explicit power iteration in
    pure Python (bit-equal: contributions summed in sorted-source
    order, identical IEEE sequence) on a small asymmetric graph."""
    from mpds_spark.operators.graph import pagerank

    E = [(1, 2), (1, 3), (1, 4), (2, 3), (4, 5), (5, 6)]
    pdf = pd.DataFrame(E, columns=["a", "b"])
    got = {
        r["node"]: r
        for r in pagerank(spark.createDataFrame(pdf), n_iter=5).collect()
    }
    adj = {}
    for x, y in E:
        adj.setdefault(x, []).append(y)
        adj.setdefault(y, []).append(x)
    nodes = sorted(adj)
    N = len(nodes)
    pr = {v: 1.0 / N for v in nodes}
    for _ in range(5):
        new = {}
        for v in nodes:
            s = 0.0
            for u in sorted(adj[v]):
                s += pr[u] / len(adj[u])
            new[v] = (1.0 - 0.85) / N + 0.85 * s
        pr = new
    for v in nodes:
        assert got[v]["degree"] == len(adj[v])
        assert got[v]["pr"] == pr[v], (v, got[v]["pr"], pr[v])
    # the hub out-ranks the leaves
    assert got[1]["pr"] == max(r["pr"] for r in got.values())
    # total rank mass stays ~1 (no dangling loss on a degree>=1 graph)
    assert abs(sum(r["pr"] for r in got.values()) - 1.0) < 1e-9


def test_label_propagation_planted_communities(spark):
    """LPA vs an explicit synchronous min-label-tiebreak sweep in pure
    Python on two dense cliques joined by one bridge edge — the cliques
    must resolve to two communities, bit-for-bit per round."""
    from mpds_spark.operators.graph import label_propagation

    import itertools

    c1 = list(range(1, 6))        # clique 1..5
    c2 = list(range(10, 15))      # clique 10..14
    E = (list(itertools.combinations(c1, 2))
         + list(itertools.combinations(c2, 2))
         + [(5, 10)])             # bridge
    pdf = pd.DataFrame(E, columns=["a", "b"])
    got = {
        r["node"]: r["community"]
        for r in label_propagation(
            spark.createDataFrame(pdf), n_rounds=4
        ).collect()
    }
    adj = {}
    for x, y in E:
        adj.setdefault(x, []).append(y)
        adj.setdefault(y, []).append(x)
    lab = {v: v for v in adj}
    for _ in range(4):
        new = {}
        for v in adj:
            cnt = {}
            for u in adj[v]:
                cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            best = min(cnt, key=lambda c: (-cnt[c], c))
            new[v] = best
        lab = new
    assert got == lab
    # the two cliques form two communities
    assert len({got[v] for v in c1}) == 1
    assert len({got[v] for v in c2}) == 1
    assert {got[v] for v in c1} != {got[v] for v in c2}


