"""Exact (byte-identical content) deduplication.

Reference semantics: dedupe_trees hashes every file's full contents and
groups by digest; duplicate sets are groups of size > 1 (SURVEY.md §2.1
R2–R3, FileCatalog.add_entry/get_groups). Spark-native formulation:

- hash:   ``functions.text.content_hash`` (xxhash64) — one JVM-side
          expression, no file I/O loop
- edges:  star edges ``(member → group-min)`` instead of all O(m²) pairs —
          sufficient for connected components and linear in group size,
          which is what keeps a 10^12-row exact-dup stage shuffle-bounded.

The pipeline builds these star edges inside its fused candidate pass
(exact content-hash buckets, ``star_srcs``); ``exact_edges`` is the
standalone reference that pass is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_edges(df: DataFrame, id_col: str = "url", hash_col: str = "content_hash") -> DataFrame:
    """Star edges for the candidate graph: (member, group representative).

    A duplicate set of m members contributes m−1 edges, all incident to
    the lexicographic-min member — connected components will merge them
    into one cluster exactly as the reference's digest grouping would.
    """
    w = Window.partitionBy(hash_col)
    rep = F.min(id_col).over(w)
    return (
        df.select(F.col(id_col).alias("src"), rep.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("url_a"),
            F.greatest("src", "dst").alias("url_b"),
        )
        .withColumn("kind", F.lit("exact"))
        .withColumn("score", F.lit(1.0))
    )
