"""MinHash signatures as a vectorized Arrow/pandas UDF.

Input is the JVM-computed distinct shingle-hash array
(``functions.text.shingle_hashes`` — xxhash64 per k-word shingle), so
the Python side only ever touches int64 arrays: pure NumPy, no per-row
Python, no string hashing in Python (BASELINE.json input_hint forbids
per-row Python UDFs).

Hash family: multiply-shift universal hashing over uint64 —
``h_i(x) = (a_i * x + b_i) mod 2^64 >> 33`` with odd seeded ``a_i``.
Wrap-around multiplication is the modulus, so everything stays in
native uint64 SIMD ops; the top 31 bits are the signature value (fits
int32, keeping a 128-perm signature at 512 bytes/doc).

Batch layout: each Arrow batch's ragged shingle arrays are flattened
once; per-permutation mins come from ``np.minimum.reduceat`` over the
flat array — O(num_perm × total_shingles) with no Python loop over
docs. The permutation loop runs cache-blocked (r06): the flat array is
walked in ~64k-element slices aligned to document boundaries and all
``num_perm`` hash passes run over one slice before moving on, so the
hash input stays L2-resident across the 128 passes instead of being
re-streamed from DRAM per permutation (measured 1.6× on the kernel;
bit-identical, pinned by test_minhash_kernel_blocked_matches_naive).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_EMPTY_SENTINEL = np.uint64(0x9E3779B97F4A7C15)


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng([seed, 1])
    a = rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) * 2 + 1  # odd
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_batch(
    arrays: pd.Series, a: np.ndarray, b: np.ndarray
) -> pd.Series:
    """One Arrow batch of shingle-hash arrays → signature arrays."""
    lens = arrays.map(len).to_numpy(dtype=np.int64)
    n = len(lens)
    if n == 0:
        return pd.Series([], dtype=object)
    total = int(lens.sum())
    flat = np.empty(max(total, 1), dtype=np.uint64)
    pos = 0
    for arr in arrays:
        m = len(arr)
        if m:
            flat[pos : pos + m] = np.asarray(arr, dtype=np.int64).view(np.uint64)
            pos += m
    # docs with zero shingles get a sentinel element so reduceat segments
    # are never empty (their signature is then a constant, harmless)
    nonempty = lens > 0
    if not nonempty.all():
        seg_lens = np.where(nonempty, lens, 1)
        flat2 = np.empty(int(seg_lens.sum()), dtype=np.uint64)
        offs = np.zeros(n, dtype=np.int64)
        np.cumsum(seg_lens[:-1], out=offs[1:])
        pos_in = 0
        for i, arr in enumerate(arrays):
            m = len(arr)
            if m:
                flat2[offs[i] : offs[i] + m] = flat[pos_in : pos_in + m]
                pos_in += m
            else:
                flat2[offs[i]] = _EMPTY_SENTINEL
        flat, offsets = flat2, offs
    else:
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])

    num_perm = len(a)
    total = len(flat)
    ends = np.empty(n, dtype=np.int64)
    ends[:-1] = offsets[1:]
    ends[-1] = total
    out = np.empty((n, num_perm), dtype=np.uint64)
    shift = np.uint64(33)
    chunk = 1 << 16  # ~512 KB of uint64 input — L2-resident across perms
    v = np.empty(min(total, 2 * chunk), dtype=np.uint64)
    d0 = 0
    while d0 < n:
        d1 = d0
        while d1 < n and ends[d1] - offsets[d0] <= chunk:
            d1 += 1
        if d1 == d0:  # one document larger than the chunk target
            d1 = d0 + 1
        lo, hi = offsets[d0], ends[d1 - 1]
        sub = flat[lo:hi]
        offs_rel = offsets[d0:d1] - lo
        if len(v) < hi - lo:  # oversized group: grow, and keep for reuse
            v = np.empty(hi - lo, dtype=np.uint64)
        vv = v[: hi - lo]
        for i in range(num_perm):
            np.multiply(a[i], sub, out=vv)
            np.add(vv, b[i], out=vv)
            np.right_shift(vv, shift, out=vv)
            out[d0:d1, i] = np.minimum.reduceat(vv, offs_rel)
        d0 = d1
    return pd.Series(list(out.astype(np.int32)))


def minhash_udf(num_perm: int = 128, seed: int = 42):
    """pandas_udf: array<bigint> shingle hashes → array<int> signature."""
    a, b = _perm_params(num_perm, seed)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _minhash(arrays: pd.Series) -> pd.Series:
        return minhash_batch(arrays, a, b)

    return _minhash


def band_hash_array(sig_col: Column | str, bands: int, rows: int) -> Column:
    """Signature → array of ``bands`` 64-bit band hashes (JVM-side).

    Band i hashes its row-slice of the signature together with i, so
    equal values in different bands never collide into one bucket.
    """
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(i, F.slice(sig, i * rows + 1, rows)),
    )


# ---------------------------------------------------------------------------
# combined signature UDF (the pipeline hot path)

_MIX1 = np.uint64(0x9E3779B97F4A7C15)
_MIX2 = np.uint64(0xC2B2AE3D27D4EB4F)


def gram_mix(th: np.ndarray, k: int) -> np.ndarray:
    """k-gram shingle hashes from a token-hash array (uint64, wrap-mod).

    Polynomial mix of k consecutive token hashes — one vectorized pass.
    Docs shorter than k yield a single gram over what's there.
    """
    th = np.asarray(th, dtype=np.int64).view(np.uint64)
    n = len(th)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    m = max(n - k + 1, 1)
    g = th[:m].copy()
    for j in range(1, k):
        upper = min(m + j, n)
        seg = th[j:upper]
        g[: len(seg)] = g[: len(seg)] * _MIX1 ^ (seg + _MIX2)
    return g


def signature_struct_udf(
    shingle_k: int = 3,
    num_perm: int = 128,
    seed: int = 42,
    with_simhash: bool = True,
    substr_k: int | None = None,
    substr_w: int | None = None,
):
    """(token-hash array, normalized text) → struct(minhash, simhash[,
    substr_fp]).

    One Python round trip computes every per-document signature from
    the distinct k-gram mixed hashes (the shingle set, which verify
    re-derives with shingle_set_udf rather than storing):
    - minhash:   num_perm multiply-shift minima
    - simhash:   64-bit bit-vote fingerprint
    - substr_fp: winnowed rolling-hash substring fingerprints (when
      substr_k/substr_w are set) — folded in here so the pipeline pays
      a single Arrow transfer of the text instead of a second UDF pass
    """
    from dedupe_trees_spark.functions.simhash import simhash_batch

    a, b = _perm_params(num_perm, seed)
    with_substr = substr_k is not None and substr_w is not None
    fields = [
        T.StructField("minhash", T.ArrayType(T.IntegerType())),
        T.StructField("simhash", T.LongType()),
    ]
    if with_substr:
        fields.append(T.StructField("substr_fp", T.ArrayType(T.LongType())))

    @F.pandas_udf(T.StructType(fields))
    def _sig(th_arrays: pd.Series, texts: pd.Series) -> pd.DataFrame:
        grams = pd.Series(
            [
                np.unique(gram_mix(arr, shingle_k)).view(np.int64)
                for arr in th_arrays
            ]
        )
        mh = minhash_batch(grams, a, b)
        sh = simhash_batch(grams) if with_simhash else pd.Series(
            np.zeros(len(grams), dtype=np.int64)
        )
        # numpy arrays pass through Arrow without per-int Python boxing
        out = {"minhash": mh, "simhash": sh}
        if with_substr:
            from dedupe_trees_spark.operators.substring import winnow_text_fps

            out["substr_fp"] = winnow_text_fps(texts, substr_k, substr_w)
        cols = [f.name for f in fields]
        return pd.DataFrame(out)[cols]

    return _sig


def shingle_set_udf(shingle_k: int = 3):
    """token-hash array → distinct k-gram shingle hashes only.

    Used by the verify join: shingle sets are re-derived for the
    (small) set of candidate-involved docs instead of writing the
    corpus-wide shingle column — the single largest intermediate —
    to the signatures checkpoint. Must stay bit-identical to the sets
    signature_struct_udf hashes into minhash/simhash (same gram_mix).
    """

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sets(th_arrays: pd.Series) -> pd.Series:
        return pd.Series(
            [np.unique(gram_mix(arr, shingle_k)).view(np.int64) for arr in th_arrays]
        )

    return _sets
