from __future__ import annotations

from dedupe_trees_spark.functions.text import content_hash
from dedupe_trees_spark.operators.exact import exact_edges


def _pages(spark):
    rows = [
        ("u1", "same text"),
        ("u2", "same text"),
        ("u3", "same text"),
        ("u4", "other text"),
        ("u5", "other text"),
        ("u6", "unique text"),
    ]
    return spark.createDataFrame(rows, ["url", "text"]).withColumn(
        "content_hash", content_hash("text")
    )


def test_exact_edges_star_shape(spark):
    edges = sorted(
        (r["url_a"], r["url_b"]) for r in exact_edges(_pages(spark)).collect()
    )
    # star edges: members → group min; m-1 edges per group, no self edges
    assert edges == [("u1", "u2"), ("u1", "u3"), ("u4", "u5")]
