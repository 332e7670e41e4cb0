"""Connected-components / dup-cluster tests vs a pure-Python
union-find oracle (no SQL twin needed here; the catalog query q30 has
a DuckDB recursive-CTE oracle on top)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from beats_spark.training import cluster


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    roots: dict[int, int] = {}
    for x in list(parent):
        r = find(x)
        roots[r] = min(roots.get(r, r), x)
    return {x: roots[find(x)] for x in parent}


def _spark_components(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = cluster.connected_components(df).collect()
    return {r["id"]: r["cluster_id"] for r in out}


def test_pair_and_chain(spark):
    edges = [(3, 5), (10, 11), (11, 12), (12, 13)]
    got = _spark_components(spark, edges)
    assert got == {3: 3, 5: 3, 10: 10, 11: 10, 12: 10, 13: 10}


def test_long_path_converges_logarithmically(spark):
    # a 64-node path is the worst diameter case for naive propagation
    edges = [(i, i + 1) for i in range(64)]
    got = _spark_components(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 65


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(45)
                )
                if a != b
            }
        )
        assert _spark_components(spark, edges) == _uf_components(edges)


def test_duplicate_and_reversed_edges(spark):
    edges = [(5, 3), (3, 5), (5, 3), (7, 3)]
    got = _spark_components(spark, edges)
    assert got == {3: 3, 5: 3, 7: 3}


def test_dup_clusters_sizes(spark):
    edges = [(1, 2), (2, 3), (9, 8)]
    out = cluster.dup_clusters(
        spark.createDataFrame(edges, ["id_a", "id_b"])
    ).collect()
    got = {r["id"]: (r["cluster_id"], r["n_members"]) for r in out}
    assert got == {
        1: (1, 3),
        2: (1, 3),
        3: (1, 3),
        8: (8, 2),
        9: (8, 2),
    }


def test_nonconvergence_guard(spark):
    df = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError):
        cluster.connected_components(df, max_rounds=0)


def test_triangle_counts_hand_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, each node in 3), plus a pendant
    # node 5 and an isolated node 6; edges arrive directed, with
    # duplicates and a self-loop to exercise canonicalization
    edges = [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 5)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["node"])
    out = {r.node: r.n_tri for r in cluster.triangle_counts(e, nodes).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0}
    spark.catalog.clearCache()


def test_triangle_counts_matches_bruteforce(spark):
    # deterministic pseudo-random graph vs an itertools brute force
    import itertools

    n = 40
    edges = [((i * 7 + 1) % n, (i * 13 + 5) % n) for i in range(n)]
    edges += [((i * 3 + 2) % n, (i * 11 + 7) % n) for i in range(n)]
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    expect = {i: 0 for i in range(n)}
    for a, b, c in itertools.combinations(range(n), 3):
        if {(a, b), (a, c), (b, c)} <= und:
            expect[a] += 1
            expect[b] += 1
            expect[c] += 1
    e = spark.createDataFrame(edges, ["src", "dst"])
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["node"])
    out = {r.node: r.n_tri for r in cluster.triangle_counts(e, nodes).collect()}
    assert out == expect
    spark.catalog.clearCache()


# --- k-core peeling ------------------------------------------------------------


def _py_kcore(edges: list[tuple[int, int]], k: int) -> dict[int, int]:
    """Brute-force peel: repeat degree-filter until fixpoint; returns
    {node: degree-in-core} for the surviving subgraph."""
    cur = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    while True:
        deg: dict[int, int] = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in cur if a in keep and b in keep}
        if len(nxt) == len(cur):
            break
        cur = nxt
    out: dict[int, int] = {}
    for a, b in cur:
        out[a] = out.get(a, 0) + 1
        out[b] = out.get(b, 0) + 1
    return out


def _kcore_spark(spark, edges, k, max_rounds=20):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = cluster.kcore_members(df, k=k, max_rounds=max_rounds).collect()
    return {r["node"]: r["core_deg"] for r in got}


def test_kcore_hand_graph(spark):
    # K4 on 0-3 (3-core) + a pendant path 3-10-11-12 that must peel at
    # k=2 one node per round (the cascade case), + an isolated 2-cycle
    # duplicate/reversed edges
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(3, 10), (10, 11), (11, 12)]
    noise = [(20, 21), (21, 20), (20, 21)]
    edges = k4 + path + noise
    assert _kcore_spark(spark, edges, 3) == {0: 3, 1: 3, 2: 3, 3: 3}
    got2 = _kcore_spark(spark, edges, 2)
    assert got2 == _py_kcore(edges, 2)
    assert 12 not in got2 and 20 not in got2


def test_kcore_matches_bruteforce_random(spark):
    rng = random.Random(89)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(80, 180))
        ]
        for k in (2, 3, 4):
            assert _kcore_spark(spark, edges, k) == _py_kcore(edges, k), (
                trial,
                k,
            )


def test_kcore_empty_core_and_validation(spark):
    # a tree has no 2-core: result must be empty, not an error
    tree = [(0, 1), (0, 2), (1, 3), (1, 4)]
    assert _kcore_spark(spark, tree, 2) == {}
    with pytest.raises(ValueError, match="k must be"):
        _kcore_spark(spark, tree, 0)


def test_kcore_nonconvergence_raises(spark):
    # pendant path of length 6 needs 6 peel rounds at k=2; max_rounds=2
    # must raise rather than return a half-peeled set
    path = [(i, i + 1) for i in range(6)] + [
        (a, b) for a in range(100, 104) for b in range(100, 104) if a < b
    ]
    path += [(0, 100)]
    with pytest.raises(RuntimeError, match="no fixpoint"):
        _kcore_spark(spark, path, 2, max_rounds=2)
    # and with head-room it converges to the K4 core plus nothing else
    got = _kcore_spark(spark, path, 3, max_rounds=20)
    assert set(got) == {100, 101, 102, 103}


# --- label propagation (synchronous LPA, Raghavan et al. 2007) ---------------


def _py_lpa(edges, rounds):
    """Pure-Python synchronous LPA twin: most-frequent neighbor label,
    ties to the smallest label."""
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    labels = {v: v for v in nbrs}
    for _ in range(rounds):
        nxt = {}
        for v, ns in nbrs.items():
            counts: dict[int, int] = {}
            for u in ns:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            nxt[v] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    return labels


def _lpa_spark(spark, edges, rounds):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = cluster.label_propagation(df, rounds=rounds)
    return {r["node"]: r["label"] for r in out.collect()}


def test_lpa_matches_bruteforce_random(spark):
    rng = random.Random(91)
    for trial in range(3):
        n = 50
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(60, 140))
        ]
        for rounds in (1, 3):
            assert _lpa_spark(spark, edges, rounds) == _py_lpa(edges, rounds), (
                trial,
                rounds,
            )


def test_lpa_planted_cliques_stay_distinct(spark):
    # two K6 cliques joined by ONE bridge: a single CC, but LPA keeps
    # two communities labelled by their minima — the granularity CC
    # can't express
    c1 = [(a, b) for a in range(6) for b in range(6) if a < b]
    c2 = [(a, b) for a in range(10, 16) for b in range(10, 16) if a < b]
    got = _lpa_spark(spark, c1 + c2 + [(5, 10)], rounds=4)
    assert {got[v] for v in range(6)} == {0}
    assert {got[v] for v in range(10, 16)} == {10}
    assert got == _py_lpa(c1 + c2 + [(5, 10)], 4)


def test_lpa_validation_and_isolated_nodes(spark):
    with pytest.raises(ValueError, match="rounds must be"):
        _lpa_spark(spark, [(0, 1)], 0)
    # self-loop-only node is absent (no edges survive canonicalization)
    got = _lpa_spark(spark, [(0, 1), (7, 7)], rounds=2)
    assert 7 not in got and set(got) == {0, 1}


# --- neighborhood function (HyperBall) ----------------------------------------


def _bfs_nf(edges: list[tuple[int, int]], nodes: list[int], rounds: int) -> list[int]:
    """Exact N(t) by per-node forward BFS ball expansion."""
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    balls = {v: {v} for v in nodes}
    out = [sum(len(b) for b in balls.values())]
    for _ in range(rounds):
        balls = {
            v: b | set().union(*(balls[w] for w in adj.get(v, []) if w in balls))
            for v, b in balls.items()
        }
        out.append(sum(len(b) for b in balls.values()))
    return out


def test_neighborhood_function_matches_bfs_random(spark):
    rng = random.Random(96)
    nodes = list(range(60))
    edges = sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(120)})
    e = spark.createDataFrame(edges, "src INT, dst INT")
    n = spark.createDataFrame([(v,) for v in nodes], "node INT")
    got = {
        r["t"]: r["nf"]
        for r in cluster.neighborhood_function(e, n, rounds=4).collect()
    }
    want = _bfs_nf(edges, nodes, 4)
    assert [got[t] for t in range(5)] == want
    # N(t) is monotone non-decreasing by construction
    assert all(got[t] <= got[t + 1] for t in range(4))
    spark.catalog.clearCache()


def test_neighborhood_function_validation_and_isolated(spark):
    e = spark.createDataFrame([(0, 1)], "src INT, dst INT")
    n = spark.createDataFrame([(0,), (1,), (2,)], "node INT")
    rows = {r["t"]: r["nf"] for r in cluster.neighborhood_function(e, n, rounds=2).collect()}
    # isolated node 2 contributes exactly its singleton ball at every t
    assert rows == {0: 3, 1: 4, 2: 4}
    with pytest.raises(ValueError):
        cluster.neighborhood_function(e, n, rounds=17)
    spark.catalog.clearCache()


def test_neighborhood_function_releases_persisted_rounds(spark):
    """ADVICE r5: no persisted RDD outlives the call — the edge layout
    and every round's sketch table are released, the result intact."""
    spark.catalog.clearCache()
    # ids, not a count: RDDs that earlier tests left to the context
    # cleaner may be released (by GC) while the call runs
    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src INT, dst INT")
    n = spark.createDataFrame([(0,), (1,), (2,)], "node INT")
    before = persisted()
    out = cluster.neighborhood_function(e, n, rounds=3)
    assert persisted() <= before
    assert {r["t"]: r["nf"] for r in out.collect()} == {0: 3, 1: 6, 2: 9, 3: 9}
    assert persisted() <= before
