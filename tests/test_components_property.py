"""Property test: CC vs brute-force union-find on seeded random graphs
(chains, cliques, stars, random sparse). Every graph here is below
components.DRIVER_EDGES, so each check runs twice: once as shipped (the
driver finish) and once with the constant patched to -1, which forces the
large-star/small-star contraction all the way to its fixpoint."""
import random

from wdd.operators import components

# the two CC paths: the driver finish (the shipped bound) and contraction
PATHS = {"driver": components.DRIVER_EDGES, "contract": -1}


def _brute_cc(edges, vertices):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min of component
    comp = {}
    for v in vertices:
        comp.setdefault(find(v), []).append(v)
    out = {}
    for root, members in comp.items():
        m = min(members)
        for v in members:
            out[v] = m
    return out


def _labels(res):
    return {r.id: r.cluster_id for r in res.labels.collect()}


def _check(spark, monkeypatch, edges, vertices):
    """Both paths label like brute force; returns the contraction path's
    round count (the driver path runs none on these small graphs)."""
    e_df = spark.createDataFrame(edges or [(0, 0)], ["a", "b"])
    if not edges:
        e_df = e_df.limit(0)
    v_df = spark.createDataFrame([(v,) for v in vertices], ["id"])
    expected = _brute_cc(edges, vertices)
    iters = {}
    for path, bound in PATHS.items():
        monkeypatch.setattr(components, "DRIVER_EDGES", bound)
        res = components.connected_components(e_df, v_df)
        assert res.converged, f"{path}: did not converge"
        assert _labels(res) == expected, path
        iters[path] = res.iterations
    assert iters["driver"] == 0
    return iters["contract"]


def test_cc_chain(spark, monkeypatch):
    # worst case for plain label propagation: a long chain with shuffled ids
    rng = random.Random(11)
    ids = list(range(100))
    rng.shuffle(ids)
    edges = list(zip(ids, ids[1:]))
    iters = _check(spark, monkeypatch, edges, ids)
    assert iters <= 10  # O(log n) rounds, not O(n)


def test_cc_random_sparse(spark, monkeypatch):
    rng = random.Random(7)
    vertices = list(range(200))
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, monkeypatch, edges, vertices)


def test_cc_cliques_and_isolated(spark, monkeypatch):
    edges = [(i, j) for i in range(10) for j in range(i + 1, 10)]
    edges += [(100 + i, 100 + i + 1) for i in range(5)]
    vertices = list(range(10)) + list(range(100, 106)) + [999]
    _check(spark, monkeypatch, edges, vertices)


def test_cc_no_edges(spark, monkeypatch):
    # an empty edge list: every vertex is its own component
    _check(spark, monkeypatch, [], [3, 1, 7])


def test_hash_min_parity(spark, monkeypatch):
    """The plain hash-min reference implementation labels identically to
    both connected_components paths (and to brute force) on a mixed
    graph."""
    rng = random.Random(23)
    vertices = list(range(120))
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    e_df = spark.createDataFrame(edges, ["a", "b"])
    v_df = spark.createDataFrame([(v,) for v in vertices], ["id"])
    hmin = components.hash_min_components(e_df, v_df)
    assert hmin.converged
    expected = _brute_cc(edges, vertices)
    assert _labels(hmin) == expected
    for path, bound in PATHS.items():
        monkeypatch.setattr(components, "DRIVER_EDGES", bound)
        star = components.connected_components(e_df, v_df)
        assert star.converged, path
        assert _labels(star) == expected, path


def test_cc_two_stars_bridged(spark, monkeypatch):
    edges = [(0, i) for i in range(1, 20)] + [(50, 50 + i) for i in range(1, 20)]
    edges.append((19, 69))
    vertices = list(range(20)) + list(range(50, 70))
    got_iters = _check(spark, monkeypatch, edges, vertices)
    assert got_iters <= 8


def test_cc_small_graph_finishes_on_driver(spark):
    """Below DRIVER_EDGES CC runs no contraction round at all."""
    edges = [(5, 9), (9, 2), (40, 41), (7, 7)]
    vertices = [2, 5, 9, 40, 41, 7, 60]
    res = components.connected_components(
        spark.createDataFrame(edges, ["a", "b"]),
        spark.createDataFrame([(v,) for v in vertices], ["id"]))
    assert res.iterations == 0 and res.converged
    assert _labels(res) == _brute_cc(edges, vertices)


def test_cc_contraction_hands_off_to_driver(spark, monkeypatch):
    """Above the bound CC contracts first and the driver finishes the
    shrunken edge list. A bare chain never shrinks below n-1 edges, so the
    shuffled 100-node chain here also links every node to the next two
    (297 edges, 99 at the fixpoint): with the bound at 150 the hand-off
    must come after at least one sync and before the fixpoint."""
    rng = random.Random(5)
    ids = list(range(100))
    rng.shuffle(ids)
    edges = [(ids[i], ids[j]) for i in range(100)
             for j in range(i + 1, min(i + 4, 100))]
    finished = []
    driver_labels = components._driver_labels

    def spy(e):
        finished.append(e.count())
        return driver_labels(e)

    monkeypatch.setattr(components, "DRIVER_EDGES", 150)
    monkeypatch.setattr(components, "_driver_labels", spy)
    res = components.connected_components(
        spark.createDataFrame(edges, ["a", "b"]))
    assert res.iterations >= 2 and res.converged
    assert len(finished) == 1 and 99 <= finished[0] <= 150
    assert _labels(res) == _brute_cc(edges, ids)
