"""Output checks, all run outside the timed region.

- ``canonical_hash``: order-insensitive hash of a committed canonical
  table (the resolution every run must reproduce exactly);
- ``dup_pair_recall``: recall of planted duplicate pairs, by the same
  definitions as ``tools/truth_recall.py``, computed on the driver from
  the truth sidecar — the engine never sees the truth columns;
- ``frame_hash``: order-insensitive content hash of a query leaf.
"""

from __future__ import annotations

import itertools
import os
import re

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

CANONICAL_COLS = ["url", "component_id", "rank", "is_canonical"]
RECALL_FLOOR = 0.99


def canonical_table(ckpt_dir: str) -> pd.DataFrame:
    return pq.read_table(
        os.path.join(ckpt_dir, "canonical"), columns=CANONICAL_COLS
    ).to_pandas()


def canonical_hash(canon: pd.DataFrame) -> str:
    """``<rows>:<hex>`` — the wrapping uint64 sum of per-row hashes, so
    row order (and file layout) does not matter."""
    rows = pd.util.hash_pandas_object(canon[CANONICAL_COLS], index=False)
    total = int(rows.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
    return f"{len(canon)}:{total:016x}"


def _shingles(text: str, k: int) -> frozenset:
    # normalize_text: lower-case, collapse whitespace runs, trim
    toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    return frozenset(tuple(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1)))


def dup_pair_recall(
    truth: pd.DataFrame,
    canon: pd.DataFrame,
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> tuple[float, int]:
    """(recall, truth pairs) of the planted duplicate pairs.

    Truth pairs are intra-cluster pairs that are real duplicates under
    the engine's definitions: exact copies and shared-span (substr)
    members always, near members when their exact shingle Jaccard is at
    least ``threshold``. A pair is found when both urls share a
    component in ``canon``.
    """
    comp = dict(zip(canon["url"], canon["component_id"]))
    found = total = 0
    for _, members in truth.groupby("truth_cluster", sort=False):
        kind = members["truth_kind"].iloc[0]
        urls = members["url"].tolist()
        sets = [_shingles(t, shingle_k) for t in members["text"]] if kind == "near" else None
        for i, j in itertools.combinations(range(len(urls)), 2):
            if sets is not None:
                a, b = sets[i], sets[j]
                if len(a & b) < threshold * len(a | b):
                    continue
            total += 1
            ca = comp.get(urls[i])
            found += ca is not None and ca == comp.get(urls[j])
    return (found / total if total else 1.0), total


def frame_hash(df) -> str:
    """``<rows>:<hex>`` over the JSON form of every row (bit_xor of
    xxhash64, so row order does not matter; JSON covers array, map and
    struct columns alike)."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.to_json(F.struct(*sorted(df.columns))))), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{int(row['h']) & (2**64 - 1):016x}"


def union_find(nodes: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Component label (min member) of every node, given edges a—b."""
    parent = {int(n): int(n) for n in nodes}

    def root(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(a.tolist(), b.tolist()):
        rx, ry = root(x), root(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return np.array([root(int(n)) for n in nodes], dtype=np.int64)
