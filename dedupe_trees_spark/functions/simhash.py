"""SimHash (64-bit): the vectorized batch kernel the S1 signature UDF
(``functions/minhash.signature_struct_udf``) runs.

Like MinHash, the Python side only sees the JVM-computed token/shingle
hash arrays (int64): the bit-vote is pure NumPy — unpack each hash into
±1 bit votes, sum per document, sign → packed uint64 fingerprint.

Candidate generation uses the block-permutation pigeonhole (SURVEY.md
§2.2, Manku et al. WWW'07): 5 bit-blocks, one probe table per block
PAIR (C(5,2) = 10 tables, ~26-bit keys); any pair within Hamming
distance ≤ 3 leaves ≥2 blocks intact, so at least one table's equi-join
finds it. An exact popcount(xor) filter (and, in the pipeline,
exact-Jaccard verification) removes the rest.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def simhash_batch(arrays: pd.Series) -> pd.Series:
    n = len(arrays)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return pd.Series(out)
    lens = arrays.map(len).to_numpy(dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return pd.Series(out)
    flat = np.empty(total, dtype=np.uint64)
    pos = 0
    for arr in arrays:
        m = len(arr)
        if m:
            flat[pos : pos + m] = np.asarray(arr, dtype=np.int64).view(np.uint64)
            pos += m
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    nonempty = lens > 0
    # reduceat segment starts must be < total; empty docs are zeroed after
    idx = np.minimum(offsets, total - 1)
    packed = np.zeros(n, dtype=np.uint64)
    half = lens.astype(np.float64) / 2.0
    # SWAR bit-count (r06): several bit positions share one uint64 word
    # as lane-packed counters sized to the longest segment, so one
    # reduceat pass sums ``k`` bit columns at once — 64/k passes instead
    # of 64, still O(total) peak memory (measured 2.2×; bit-identical,
    # pinned by test_simhash_swar_matches_per_bit). Lane width sb has
    # headroom: counts reach at most max(lens) < 2^(sb-1), so lanes
    # never carry into each other.
    sb = max(int(lens.max()).bit_length() + 1, 8)
    k = max(64 // sb, 1)
    lane_mask = np.uint64((1 << sb) - 1)
    one = np.uint64(1)
    buf = np.empty(total, dtype=np.uint64)
    tmp = np.empty(total, dtype=np.uint64)
    j = 0
    while j < 64:
        g = min(k, 64 - j)
        np.right_shift(flat, np.uint64(j), out=buf)
        np.bitwise_and(buf, one, out=buf)
        for t in range(1, g):
            np.right_shift(flat, np.uint64(j + t), out=tmp)
            np.bitwise_and(tmp, one, out=tmp)
            np.left_shift(tmp, np.uint64(t * sb), out=tmp)
            np.bitwise_or(buf, tmp, out=buf)
        sums = np.add.reduceat(buf, idx)
        for t in range(g):
            cnt = (sums >> np.uint64(t * sb)) & lane_mask
            packed |= (cnt.astype(np.float64) > half).astype(np.uint64) << np.uint64(j + t)
        j += g
    packed[~nonempty] = 0
    return pd.Series(packed.view(np.int64))


# 5 bit-blocks of the 64-bit fingerprint: (offset, width)
SIMHASH_BLOCKS = [(0, 13), (13, 13), (26, 13), (39, 13), (52, 12)]

# the Hamming radius the block layout guarantees (5 blocks, keys on block
# pairs: ≤ 3 flipped bits leave one pair intact)
MAX_HAMMING = 3


def simhash_block_keys(col: Column | str, d: int = MAX_HAMMING) -> Column:
    """64-bit simhash → array of per-table bucket keys (block-permutation
    scheme after Manku/Jain/Das Sarma, WWW'07 §3: probe tables keyed on
    block subsets such that every ≤d-bit difference leaves one table's
    key blocks intact).

    B = 5 blocks (13/13/13/13/12 bits); tables = all C(5,2) = 10
    unordered block pairs, so each key is ~26 bits wide. Any pair within
    Hamming distance ≤ 3 corrupts at most 3 blocks, leaving ≥ 2 intact —
    at least one table keys both docs into the same bucket (zero false
    negatives, like the pigeonhole chunk split).

    Why not 4 × 16-bit chunks: a 16-bit key space has n/65536 expected
    docs per bucket — at 10^9+ docs EVERY bucket exceeds any practical
    cap, so all candidates degrade to the hot-bucket star fallback and
    true Hamming-≤3 pairs are silently lost. 26-bit keys keep expected
    bucket size O(n / 2^26) — ~15 docs at 10^9, still cold at the
    default cap — and the count grows only linearly with corpus size.
    The position in the returned array is the table id (posexplode
    provides it as band_id downstream).
    """
    if d != MAX_HAMMING:
        raise ValueError("block layout is sized for max_hamming <= 3")
    # key packing: first block shifted past the widest second block, so
    # the two block values can never overlap. Pin the invariant so a
    # future SIMHASH_BLOCKS change cannot silently alias keys.
    max_width = max(w for _, w in SIMHASH_BLOCKS)
    assert all(off + w <= 64 for off, w in SIMHASH_BLOCKS)
    assert max_width + max_width <= 63, "packed key must fit a signed int64"
    c = F.col(col) if isinstance(col, str) else col
    vals = [
        F.shiftrightunsigned(c, off).bitwiseAND(F.lit((1 << width) - 1))
        for off, width in SIMHASH_BLOCKS
    ]
    keys = []
    n = len(SIMHASH_BLOCKS)
    for i in range(n):
        for j in range(i + 1, n):
            keys.append(F.shiftleft(vals[i], max_width) + vals[j])
    return F.array(*keys)


def hamming_dist(a: Column, b: Column) -> Column:
    """Popcount of xor — exact Hamming distance between two int64s."""
    return F.bit_count(a.bitwiseXOR(b))
