from __future__ import annotations

import random

from dedupe_trees_spark.operators.components import assign_components, connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["url_a", "url_b"])
    return {
        r["url"]: r["component_id"] for r in connected_components(df).collect()
    }


def test_path_graph(spark):
    out = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert out == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_star_graph(spark):
    out = _cc(spark, [("m", "a"), ("m", "b"), ("m", "c")])
    assert out == {"a": "a", "b": "a", "c": "a", "m": "a"}


def test_two_components(spark):
    out = _cc(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    assert out["a"] == out["b"] == "a"
    assert out["x"] == out["y"] == out["z"] == "x"


def test_long_chain(spark):
    # forces multiple large/small-star rounds (O(log n) convergence)
    names = [f"n{i:03d}" for i in range(40)]
    edges = [(names[i], names[i + 1]) for i in range(39)]
    out = _cc(spark, edges)
    assert set(out.values()) == {"n000"}
    assert len(out) == 40


def _union_find_oracle(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(i)
    # label every node by the min member of its group
    label = {}
    for members in groups.values():
        m = min(members)
        for x in members:
            label[x] = m
    return label


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
        edges = [(a, b) for a, b in edges if a != b]
        oracle = _union_find_oracle(n, edges)
        df = spark.createDataFrame(
            [(f"n{a:03d}", f"n{b:03d}") for a, b in edges], ["url_a", "url_b"]
        )
        got = {r["url"]: r["component_id"] for r in connected_components(df).collect()}
        touched = {x for e in edges for x in e}
        assert len(got) == len(touched)
        for x in touched:
            assert got[f"n{x:03d}"] == f"n{oracle[x]:03d}"


def test_assign_components_includes_singletons(spark):
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("lonely",)], ["url"])
    edges = spark.createDataFrame([("a", "b")], ["url_a", "url_b"])
    out = {r["url"]: r["component_id"] for r in assign_components(nodes, edges).collect()}
    assert out == {"a": "a", "b": "a", "c": "c", "lonely": "lonely"}


def test_driver_and_distributed_paths_identical(spark, monkeypatch):
    """The r06 bounded driver fast path must emit exactly the relation
    the distributed star contraction converges to — same node set, same
    min-id labels — for string, int64 and non-binary-collated string
    ids (the last must fall back to the distributed loop: under
    UTF8_LCASE "a" < "B", the reverse of Python's ordering)."""
    import dedupe_trees_spark.operators.components as C

    rng = random.Random(5)
    n = 120
    str_edges = [
        (f"u{rng.randrange(n):03d}", f"u{rng.randrange(n):03d}") for _ in range(150)
    ]
    int_edges = [
        (rng.randrange(-(2**62), 2**62), rng.randrange(-(2**62), 2**62))
        for _ in range(40)
    ] + [(7, 9), (9, 11)]

    lcase_edges = [("B", "a"), ("a", "c")]

    for edges, cols in (
        (str_edges, "string"),
        (int_edges, "long"),
        (lcase_edges, "string collate UTF8_LCASE"),
    ):
        df = spark.createDataFrame(
            edges, f"url_a {cols}, url_b {cols}"
        )
        fast = {
            r["url"]: r["component_id"]
            for r in connected_components(df).collect()
        }
        monkeypatch.setattr(C, "_DRIVER_CC_MAX_EDGES", -1)
        slow = {
            r["url"]: r["component_id"]
            for r in C.connected_components(df).collect()
        }
        monkeypatch.undo()
        assert fast == slow
