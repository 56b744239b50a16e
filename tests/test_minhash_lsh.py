from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dedupe_trees_spark.config import PipelineConfig
from dedupe_trees_spark.datagen import GenConfig, generate_pages
from dedupe_trees_spark.functions.minhash import _perm_params, minhash_batch, minhash_udf
from dedupe_trees_spark.functions.text import shingle_hashes
from dedupe_trees_spark.operators.lsh import (
    candidate_pairs,
    explode_bands,
    verify_pairs,
)
from dedupe_trees_spark.plans.pipeline import build_pairs, build_signatures


def test_minhash_batch_deterministic_and_jaccard_estimate():
    a, b = _perm_params(256, seed=42)
    rng = np.random.default_rng(0)
    base = rng.integers(-(2**62), 2**62, size=200, dtype=np.int64)
    # two sets with known overlap 150/250 = J = 150/250
    s1 = base
    s2 = np.concatenate([base[:150], rng.integers(-(2**62), 2**62, size=50, dtype=np.int64)])
    union = len(np.union1d(s1, s2))
    inter = len(np.intersect1d(s1, s2))
    j_true = inter / union
    sigs = minhash_batch(pd.Series([s1, s2, s1]), a, b)
    est = float(np.mean(np.array(sigs[0]) == np.array(sigs[1])))
    assert abs(est - j_true) < 0.12
    assert np.array_equal(np.array(sigs[0]), np.array(sigs[2]))  # identical set → identical sig


def test_minhash_batch_empty_and_single():
    a, b = _perm_params(16, seed=1)
    sigs = minhash_batch(pd.Series([np.array([], dtype=np.int64), np.array([5], dtype=np.int64)]), a, b)
    assert len(sigs[0]) == 16 and len(sigs[1]) == 16


def test_minhash_udf_matches_local(spark):
    texts = [("u1", "a b c d e f g h"), ("u2", "a b c d e f g h"), ("u3", "z y x w v u t s")]
    df = spark.createDataFrame(texts, ["url", "text"]).withColumn(
        "shingles", shingle_hashes("text", k=3)
    )
    out = df.withColumn("sig", minhash_udf(64, seed=9)(F.col("shingles"))).collect()
    sigs = {r["url"]: r["sig"] for r in out}
    assert sigs["u1"] == sigs["u2"]
    assert sigs["u1"] != sigs["u3"]
    assert len(sigs["u1"]) == 64


def test_explode_bands_shape(spark):
    df = spark.createDataFrame([("u1", list(range(128)))], ["url", "minhash"])
    bands = explode_bands(df, bands=32, rows=4).collect()
    assert len(bands) == 32
    assert sorted(r["band_id"] for r in bands) == list(range(32))


def test_candidate_pairs_cold_bucket(spark):
    rows = [("u1", 0, 11), ("u2", 0, 11), ("u3", 0, 11), ("u4", 0, 99)]
    bands = spark.createDataFrame(rows, ["url", "band_id", "band_hash"])
    pairs = sorted((r["url_a"], r["url_b"]) for r in candidate_pairs(bands).collect())
    assert pairs == [("u1", "u2"), ("u1", "u3"), ("u2", "u3")]


def test_candidate_pairs_hot_bucket_stays_connected(spark):
    # one bucket with 40 members, cap=8 → salted; graph must stay connected
    rows = [(f"u{i:02d}", 0, 7) for i in range(40)]
    bands = spark.createDataFrame(rows, ["url", "band_id", "band_hash"])
    pairs = [(r["url_a"], r["url_b"]) for r in candidate_pairs(bands, cap=8).collect()]
    # far fewer than the 780 full pairs
    assert 39 <= len(pairs) < 400
    # connectivity check via union-find
    parent = {f"u{i:02d}": f"u{i:02d}" for i in range(40)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(x) for x in parent}) == 1


def test_verify_pairs_filters_false_positives(spark):
    sigs = spark.createDataFrame(
        [
            ("u1", [1, 2, 3, 4, 5]),
            ("u2", [1, 2, 3, 4, 6]),   # J = 4/6 = 0.667
            ("u3", [9, 10, 11, 12, 13]),  # J with u1 = 0
        ],
        ["url", "shingles"],
    )
    cands = spark.createDataFrame([("u1", "u2"), ("u1", "u3")], ["url_a", "url_b"])
    out = verify_pairs(cands, sigs, threshold=0.6).collect()
    assert [(r["url_a"], r["url_b"]) for r in out] == [("u1", "u2")]
    assert abs(out[0]["score"] - 4 / 6) < 1e-9
    assert out[0]["kind"] == "minhash"
    out2 = verify_pairs(cands, sigs, threshold=0.7).collect()
    assert out2 == []


def _brute_force_pairs(pdf, k=3, threshold=0.8):
    def sh(t):
        x = t.split()
        return set(tuple(x[i : i + k]) for i in range(max(len(x) - k + 1, 1)))

    S = {r.url: sh(r.text) for r in pdf.itertuples()}
    urls = sorted(S)
    truth = set()
    for a, b in itertools.combinations(urls, 2):
        inter = len(S[a] & S[b])
        if inter == 0:
            continue
        j = inter / (len(S[a]) + len(S[b]) - inter)
        if j >= threshold:
            truth.add((a, b))
    return truth


def test_lsh_recall_on_synthetic_pages(spark):
    """SURVEY §5.3 recall harness: the pipeline's S1 → S3
    (build_signatures → build_pairs, minhash generator on) vs brute-force
    exact Jaccard at the same shingle/signature config; target recall
    ≥ 0.99."""
    gen = GenConfig(n_docs=1500, seed=42)
    pages = generate_pages(spark, gen, partitions=8).select("url", "text")
    cfg = PipelineConfig(
        input_path="", ckpt_dir="", enable_simhash=False,
        enable_substring=False, bucket_cap=64,
    )
    sigs = build_signatures(pages, cfg).cache()
    url = {r["nid"]: r["url"] for r in sigs.select("nid", "url").collect()}
    got = {
        tuple(sorted((url[r["url_a"]], url[r["url_b"]])))
        for r in build_pairs(sigs, cfg).collect()
    }
    sigs.unpersist()
    truth = _brute_force_pairs(pages.toPandas(), k=3, threshold=0.8)
    assert truth, "fixture must contain planted near-dup pairs"
    missed = truth - got
    recall = 1 - len(missed) / len(truth)
    assert recall >= 0.99, f"recall {recall} missed {list(missed)[:5]}"
    # precision is exact by construction (verified pairs only)
    false_pos = got - truth
    assert not false_pos, f"verified pairs must be a subset of truth: {list(false_pos)[:5]}"


def test_gram_mix_determinism_and_shift_sensitivity():
    import numpy as np
    from dedupe_trees_spark.functions.minhash import gram_mix

    rng = np.random.default_rng(2)
    th = rng.integers(-(2**62), 2**62, size=50, dtype=np.int64)
    a = gram_mix(th, 3)
    b = gram_mix(th, 3)
    assert np.array_equal(a, b)
    assert len(a) == 48
    # same tokens shifted by one → 47 shared gram values
    shifted = gram_mix(th[1:], 3)
    assert len(np.intersect1d(a, shifted)) == 47
    # short docs: single gram
    assert len(gram_mix(th[:2], 3)) == 1
    assert len(gram_mix(th[:0], 3)) == 0
    # order matters
    rev = gram_mix(th[::-1].copy(), 3)
    assert len(np.intersect1d(a, rev)) == 0


def test_minhash_kernel_blocked_matches_naive():
    """The r06 cache-blocked permutation loop must be bit-identical to
    the naive one-pass-per-perm formulation on ragged batches covering
    empty docs, single-element docs, and docs larger than the 64k-element
    block target."""
    a, b = _perm_params(128, seed=42)
    rng = np.random.default_rng(7)
    docs = [
        np.array([], dtype=np.int64),
        np.array([5], dtype=np.int64),
        rng.integers(-(2**62), 2**62, size=300, dtype=np.int64),
        np.array([], dtype=np.int64),
        rng.integers(-(2**62), 2**62, size=70_000, dtype=np.int64),  # > one block
        rng.integers(-(2**62), 2**62, size=17, dtype=np.int64),
        # two docs larger than the initial scratch buffer (2 blocks):
        # the first grows it, the second reuses the grown buffer
        rng.integers(-(2**62), 2**62, size=140_000, dtype=np.int64),
        rng.integers(-(2**62), 2**62, size=140_000, dtype=np.int64),
    ]
    got = minhash_batch(pd.Series(docs), a, b)

    # naive reference (the pre-r06 formulation, inlined)
    _EMPTY = np.uint64(0x9E3779B97F4A7C15)
    for i, arr in enumerate(docs):
        seg = arr.view(np.uint64) if len(arr) else np.array([_EMPTY], dtype=np.uint64)
        want = np.empty(len(a), dtype=np.int32)
        for p in range(len(a)):
            want[p] = np.int32(((a[p] * seg + b[p]) >> np.uint64(33)).min())
        assert np.array_equal(np.asarray(got[i], dtype=np.int32), want), f"doc {i}"
