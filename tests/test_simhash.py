from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dedupe_trees_spark.config import PipelineConfig
from dedupe_trees_spark.functions.simhash import simhash_batch
from dedupe_trees_spark.operators.simhash_join import simhash_pairs
from dedupe_trees_spark.plans.pipeline import build_signatures

# S1 with the simhash generator on: its `simhash` column feeds simhash_pairs
_S1 = PipelineConfig(input_path="", ckpt_dir="", enable_substring=False)


def _ham(a, b) -> int:
    return bin((int(a) ^ int(b)) & (2**64 - 1)).count("1")


def test_simhash_batch_identical_and_similar():
    rng = np.random.default_rng(3)
    base = rng.integers(-(2**62), 2**62, size=300, dtype=np.int64)
    similar = base.copy()
    similar[:10] = rng.integers(-(2**62), 2**62, size=10, dtype=np.int64)
    different = rng.integers(-(2**62), 2**62, size=300, dtype=np.int64)
    sigs = simhash_batch(pd.Series([base, base, similar, different]))
    assert sigs[0] == sigs[1]
    assert _ham(sigs[0], sigs[2]) <= 8          # ~3% token change → few bits
    assert _ham(sigs[0], sigs[3]) > 16          # unrelated → ~32 bits


def test_simhash_batch_empty():
    sigs = simhash_batch(pd.Series([np.array([], dtype=np.int64)]))
    assert sigs[0] == 0


def test_simhash_pairs_end_to_end(spark):
    texts = [
        ("u1", "the quick brown fox jumps over the lazy dog " * 8),
        ("u2", "the quick brown fox jumps over the lazy dog " * 8),  # identical
        ("u3", "completely different content about spark engines and shuffles " * 8),
    ]
    df = build_signatures(spark.createDataFrame(texts, ["url", "text"]), _S1)
    pairs = [(r["url_a"], r["url_b"], r["hamming"]) for r in simhash_pairs(df).collect()]
    assert ("u1", "u2", 0) in pairs
    assert all({a, b} != {"u1", "u3"} for a, b, _ in pairs)


def test_simhash_block_recall_at_scale_with_tiny_cap(spark):
    """Scale property of the block-pair scheme (Manku WWW'07): recall of
    planted Hamming-≤3 pairs must survive a corpus size where the OLD
    4×16-bit chunk buckets are saturated past the cap.

    200k random fingerprints with cap=2 reproduces the web-scale regime
    scaled down: 16-bit chunk buckets would average ~3 members (> cap →
    every candidate through the lossy star fallback), while 26-bit
    block-pair buckets average ~0.003 members — cold, so every planted
    pair is found by a direct bucket join. Recall must be ≥ 0.99."""
    n, n_planted = 200_000, 300
    base = spark.range(n).select(
        F.concat(F.lit("r"), F.col("id")).alias("url"),
        F.xxhash64("id").alias("simhash"),
    )
    rng = np.random.default_rng(5)
    rows = []
    for i in range(n_planted):
        h = int(rng.integers(-(2**63), 2**63, dtype=np.int64))
        h2 = h
        for b in rng.choice(64, size=int(rng.integers(1, 4)), replace=False):
            h2 ^= 1 << int(b)
        h2 = int(np.int64(np.uint64(h2 % 2**64)))
        rows.append((f"planted{i}a", h))
        rows.append((f"planted{i}b", h2))
    planted = spark.createDataFrame(rows, "url string, simhash long")
    df = base.unionByName(planted)
    out = simhash_pairs(df, cap=2)
    got = {
        (r["url_a"], r["url_b"])
        for r in out.filter(F.col("url_a").startswith("planted")).collect()
    }
    want = {(f"planted{i}a", f"planted{i}b") for i in range(n_planted)}
    recall = len(want & got) / len(want)
    assert recall >= 0.99, f"recall={recall}"


def test_simhash_near_duplicate_detected(spark):
    # non-repetitive text (big distinct shingle set); one token changed out
    # of 300 flips at most 3 shingles → tiny Hamming distance, pigeonhole
    # guarantees the candidate join finds it
    rng = np.random.default_rng(11)
    toks = [f"tok{i}x{int(v)}" for i, v in enumerate(rng.integers(0, 1000, size=300))]
    base = " ".join(toks)
    toks2 = list(toks)
    toks2[150] = "changed"
    near = " ".join(toks2)
    df = build_signatures(
        spark.createDataFrame([("a", base), ("b", near)], ["url", "text"]), _S1
    )
    out = simhash_pairs(df, max_hamming=3).collect()
    assert len(out) == 1
    assert out[0]["hamming"] <= 3


def test_simhash_swar_matches_per_bit():
    """The r06 SWAR lane-packed bit count must be bit-identical to the
    per-bit formulation on ragged batches with empty and long docs."""
    rng = np.random.default_rng(11)
    docs = [
        np.array([], dtype=np.int64),
        np.array([5], dtype=np.int64),
        rng.integers(-(2**62), 2**62, size=301, dtype=np.int64),
        np.array([], dtype=np.int64),
        rng.integers(-(2**62), 2**62, size=70_000, dtype=np.int64),
    ]
    got = simhash_batch(pd.Series(docs)).to_numpy()

    for i, arr in enumerate(docs):
        if not len(arr):
            assert got[i] == 0
            continue
        flat = arr.view(np.uint64)
        half = len(flat) / 2.0
        want = np.uint64(0)
        for j in range(64):
            ones = int((((flat >> np.uint64(j)) & np.uint64(1)).astype(np.int64)).sum())
            if ones > half:
                want |= np.uint64(1) << np.uint64(j)
        assert np.int64(got[i]) == want.view(np.int64), f"doc {i}"
