"""Exact-substring duplicate detection (SURVEY.md §2.2 M4).

Finds pairs of documents sharing a verbatim character run of at least
``guarantee`` characters — the dedupe-trees generalization used for
training corpora where one page embeds a long quote of another.

Two physical strategies, one logical semantic:

1. ``substring_pairs_exact`` — stride-1 k-char grams on both sides,
   equi-join on the gram hash. Fully relational (JVM codegen end to
   end), zero false negatives for shared runs ≥ k. O(total_chars) gram
   rows — the choice for oracle checks and moderate corpora.

2. ``substring_pairs_winnow`` — winnowing (Schleimer, Wilkerson, Aiken,
   SIGMOD'03 — the MOSS fingerprinting scheme): per document keep only
   the minimum gram hash in every window of ``w`` consecutive k-grams
   (rightmost-min tie-break), a deterministic ~2/(w+1) sample that still
   GUARANTEES detection of any shared run of ≥ k + w − 1 chars. The
   sliding-window min runs in NumPy inside a pandas UDF over the
   JVM-computed gram-hash arrays. This is the 100-TB path: fingerprint
   volume shrinks ~w× before the shuffle/join.

Both emit candidate gram-bucket pairs capped/salted like LSH buckets
(a boilerplate legal header shared by millions of pages is exactly a
hot bucket).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedupe_trees_spark.operators.lsh import candidate_pairs


def _sliding_min(h: np.ndarray, w: int) -> np.ndarray:
    """O(n) sliding-window minimum (block prefix/suffix-min trick):
    pad to a multiple of w, prefix-min within each w-block forward and
    suffix-min backward; window i spans at most two blocks, so
    ``min(suffix[i], prefix[i+w-1])`` is exact. Replaces the
    ``sliding_window_view(...).min(axis=1)`` formulation, whose
    O(n·w) comparisons dominated the S1 winnow kernel (59% of the
    signature batch at w=41). Value-identical (pytest-pinned).
    Caller guarantees ``len(h) > w``; dtype preserved."""
    n = len(h)
    m = n - w + 1
    nblocks = -(-n // w)
    pad = nblocks * w - n
    if pad:
        padded = np.concatenate([h, np.full(pad, h.max(), dtype=h.dtype)])
    else:
        padded = h
    H = padded.reshape(nblocks, w)
    pre = np.minimum.accumulate(H, axis=1).ravel()
    suf = np.minimum.accumulate(H[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suf[:m], pre[w - 1 : w - 1 + m])


def _winnow_batch(arrays: pd.Series, w: int) -> pd.Series:
    """Per doc: distinct hashes selected as window-minima (winnowing)."""
    out = []
    for arr in arrays:
        h = np.asarray(arr, dtype=np.int64)
        n = len(h)
        if n == 0:
            out.append(np.empty(0, dtype=np.int64))
            continue
        if n <= w:
            out.append(np.unique(h[h == h.min()][:1]))
            continue
        out.append(np.unique(_sliding_min(h, w)))
    return pd.Series(out)


_RB_BASE = np.uint64(0x100000001B3)     # FNV-ish odd multiplier
_RB_MIX = np.uint64(0xFF51AFD7ED558CCD)  # murmur3 finalizer constant
# B is odd, hence invertible mod 2^64 — the O(n) prefix formulation below
# divides by B^i via multiplication with this inverse (wraparound uint64
# arithmetic IS arithmetic mod 2^64, so the values are exact)
_RB_BASE_INV = np.uint64(pow(int(_RB_BASE), -1, 1 << 64))

# power tables for the O(n) rolling hash, grown on demand per process:
# _pows(k, n)[0][i] = B^(k-1+i), [1][i] = B^-i  (both mod 2^64)
_POW_CACHE: dict = {}


def _pows(k: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    cached = _POW_CACHE.get(k)
    if cached is None or len(cached[1]) < n + 1:
        size = max(n + 1, 1024)
        binv = np.empty(size, dtype=np.uint64)
        binv[0] = 1
        np.cumprod(np.full(size - 1, _RB_BASE_INV, dtype=np.uint64), out=binv[1:])
        bpow = np.empty(size, dtype=np.uint64)
        bpow[0] = np.uint64(pow(int(_RB_BASE), k - 1, 1 << 64))
        np.cumprod(np.full(size - 1, _RB_BASE, dtype=np.uint64), out=bpow[1:])
        bpow[1:] *= bpow[0]
        cached = (bpow, binv)
        _POW_CACHE[k] = cached
    return cached


def _finalize_hashes(h: np.ndarray) -> np.ndarray:
    h ^= h >> np.uint64(33)
    h *= _RB_MIX
    h ^= h >> np.uint64(29)
    return h


def _rolling_hash_core(vals: np.ndarray, k: int) -> np.ndarray:
    """Stride-1 k-window polynomial hashes of a uint64 value array in
    O(n) — value-identical to the k-pass formulation (pytest-pinned):

        h[i] = sum_j vals[i+j] * B^(k-1-j)          (mod 2^64)
             = (P[i+k] - P[i]) * B^(k-1+i)   with   P[i] = sum_{t<i} vals[t] * B^-t

    Two cumulative passes + one multiply replace k vector passes — the
    win grows with k (the exact-64-gram path went from 64 passes to ~4).
    """
    n = len(vals)
    m = n - k + 1
    bpow, binv = _pows(k, n)
    P = np.empty(n + 1, dtype=np.uint64)
    P[0] = 0
    np.cumsum(vals * binv[:n], out=P[1:])
    h = (P[k:] - P[:m]) * bpow[:m]
    return _finalize_hashes(h)


def _rolling_byte_hashes(data: bytes, k: int) -> np.ndarray:
    """Stride-1 k-byte rolling hashes of a byte string (O(n), see
    ``_rolling_hash_core``), murmur-finalized so equal windows — and
    only equal windows, w.h.p. — share a hash. Byte-level, so it is
    agnostic to UTF-8."""
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(b)
    if n < k:
        b = np.pad(b, (0, k - n), constant_values=0)
    return _rolling_hash_core(b, k)


def winnow_text_fps(texts: pd.Series, k: int, w: int) -> pd.Series:
    """Batch core of the text-winnow path (shared with the combined
    signature UDF in functions/minhash.py)."""
    out = []
    for t in texts:
        if not t:
            out.append(np.empty(0, dtype=np.int64))
            continue
        h = _rolling_byte_hashes(t.encode("utf-8"), k)
        if len(h) <= w:
            out.append(np.array([h.min()], dtype=np.uint64).view(np.int64))
            continue
        out.append(np.unique(_sliding_min(h, w)).view(np.int64))
    return pd.Series(out)


def winnow_text_udf(k: int, w: int):
    """text → winnowed fingerprint array, all inside one pandas UDF.

    Replaces the JVM char_ngrams + hash path: materializing every
    k-char substring JVM-side costs ~k× the text volume in string churn
    (measured 10.8 s vs ~2 s at 100k docs); here the text bytes ship to
    Python once and the rolling hash + sliding-window min are NumPy.
    """

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _winnow_text(texts: pd.Series) -> pd.Series:
        return winnow_text_fps(texts, k, w)

    # pure function; non-deterministic marking stops Catalyst from
    # duplicating it below the explode's implicit size>0 filter (the
    # r06 plan showed two ArrowEvalPython nodes for one winnow call)
    return _winnow_text.asNondeterministic()


def _pairs_from_gram_sets(
    df: DataFrame, grams_col, id_col: str, cap: int, grams_distinct: bool = False
) -> DataFrame:
    """(id, array<gram_hash>) → distinct candidate pairs via bucket join.

    ``grams_distinct=True`` skips the per-row ``array_distinct`` when the
    producer already guarantees it (every np.unique-built fingerprint
    array — the winnow and stride-1 UDFs), saving a per-row hash-set
    rebuild over the fattest column of the explode."""
    arr = grams_col if grams_distinct else F.array_distinct(grams_col)
    buckets = df.select(
        F.col(id_col),
        F.explode(arr).alias("band_hash"),
    ).withColumn("band_id", F.lit(0))
    return candidate_pairs(buckets, id_col=id_col, cap=cap)


def substring_pairs_exact(
    df: DataFrame, id_col: str = "url", text_col: str = "text", k: int = 64, cap: int = 256
) -> DataFrame:
    """Pairs sharing ≥1 exact k-char substring (stride-1 both sides).

    Gram hashes come from the O(n) prefix rolling hash over code points
    (``stride1_cp_hash_udf``) rather than the JVM ``char_ngrams`` +
    xxhash64 chain: materializing every k-char substring JVM-side costs
    ~k× the text volume in string churn (the same measured effect the
    winnow path's docstring records), while the UDF ships the text
    bytes to Python once and computes all window hashes in ~4 fused
    NumPy passes. 64-bit hash equality stands in for string equality
    either way (w.h.p. — identical to the xxhash64 variant's
    guarantee), so the emitted pair set is unchanged."""
    fps = df.select(
        F.col(id_col), stride1_cp_hash_udf(k)(F.col(text_col)).alias("_fp")
    )
    return _pairs_from_gram_sets(
        fps, F.col("_fp"), id_col, cap, grams_distinct=True
    )


def _attach_pair_texts(
    cands: DataFrame, df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Candidate pairs → (url_a, url_b, _ta, _tb) with BOTH texts.

    The candidate relation is ~16 bytes/row, so AQE's byte-based
    coalescing collapses it to one or two post-shuffle partitions —
    correct for a relational consumer, catastrophic for the pandas
    kernels downstream (the whole suffix-array stage then runs on one
    core). Repartition to a core-proportional count (derived from
    ``defaultParallelism``, never a constant — scale-adaptive per the
    cluster) BEFORE the text joins; the broadcast joins preserve the
    partitioning into the Python stage."""
    n_parts = 2 * cands.sparkSession.sparkContext.defaultParallelism
    texts = df.select(F.col(id_col), F.col(text_col))
    # broadcast the TEXT side explicitly: left to its estimates Catalyst
    # broadcasts the (even smaller) candidate relation instead, which
    # makes the join stream the text SCAN — and the scan's partition
    # count (1-2 at fixture sizes) then serializes the Python kernel
    # stage. With texts as build side the stream side is the
    # repartitioned candidate relation, so the kernels inherit its
    # core-proportional partitioning.
    #
    # ROUND-ROBIN repartition on purpose: a keyed repartition on
    # (url_a, url_b) is elided as redundant against the pair-dedup's
    # ENSURE_REQUIREMENTS exchange on the same keys, whose ~16-byte/row
    # output AQE then coalesces to ONE partition (plan-verified, r06) —
    # serializing every pandas kernel downstream. Round-robin with an
    # explicit count survives both rules; its sort-before-repartition
    # cost is trivial at candidate-pair cardinality, and the pair set
    # is already distinct so placement cannot affect results.
    return (
        cands.select("url_a", "url_b")
        .repartition(n_parts)
        .join(
            F.broadcast(
                texts.select(
                    F.col(id_col).alias("url_a"), F.col(text_col).alias("_ta")
                )
            ),
            "url_a",
        )
        .join(
            F.broadcast(
                texts.select(
                    F.col(id_col).alias("url_b"), F.col(text_col).alias("_tb")
                )
            ),
            "url_b",
        )
    )


# ---------------------------------------------------------------------------
# Suffix-array exact-substring extents (BASELINE.json north_star names
# "suffix-array-based exact-substring duplicate detection" explicitly).
# Prefix-doubling suffix array + rank-level LCP, pure NumPy.


def _sa_levels(s: np.ndarray) -> tuple[np.ndarray, list[tuple[int, np.ndarray]]]:
    """Suffix array by prefix doubling (O(n log² n), all argsort/lexsort)
    plus the per-level rank arrays, kept for O(log n) LCP queries.

    ``levels[t] = (k, rank)`` where ``rank[i]`` ranks the length-k prefix
    of the suffix at i. Input values must be non-negative ints with
    unique sentinels so all suffixes compare distinct.
    """
    n = len(s)
    rank = np.unique(s, return_inverse=True)[1].astype(np.int64)
    levels = [(1, rank)]
    sa = np.argsort(rank, kind="stable")
    k = 1
    while rank[sa[-1]] != n - 1 and k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        sa = np.lexsort((key2, rank))
        r1, r2 = rank[sa], key2[sa]
        changed = np.empty(n, dtype=np.int64)
        changed[0] = 0
        changed[1:] = (r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1])
        newrank = np.cumsum(changed)
        rank = np.empty(n, dtype=np.int64)
        rank[sa] = newrank
        k *= 2
        levels.append((k, rank))
    return sa, levels


def _lcp_batch(levels, I: np.ndarray, J: np.ndarray, n: int) -> np.ndarray:
    """LCP(suffix I[t], suffix J[t]) for all t, vectorized over pairs:
    walk the doubling levels high→low, extending where length-k prefix
    ranks agree — O(log n) vectorized passes instead of Kasai's
    per-character Python loop."""
    h = np.zeros(len(I), dtype=np.int64)
    I, J = I.copy(), J.copy()
    for k, rank in reversed(levels):
        m = (I + k <= n) & (J + k <= n)
        if m.any():
            eq = np.zeros(len(I), dtype=bool)
            eq[m] = rank[I[m]] == rank[J[m]]
            h[eq] += k
            I[eq] += k
            J[eq] += k
    return h


def _lcs_two(a_cp: np.ndarray, b_cp: np.ndarray) -> int:
    """Longest common substring length (in code points) of two docs via a
    generalized suffix array: concat with unique low sentinels, then the
    max LCP over ADJACENT suffix-array entries owned by different docs
    (the classic GSA-LCS reduction — a non-adjacent cross-doc pair's LCP
    is the min over the gap, so an adjacent pair always attains the max).
    """
    la = len(a_cp)
    s = np.concatenate(
        [
            a_cp.astype(np.int64) + 2,
            np.array([0], dtype=np.int64),
            b_cp.astype(np.int64) + 2,
            np.array([1], dtype=np.int64),
        ]
    )
    n = len(s)
    sa, levels = _sa_levels(s)
    I, J = sa[:-1], sa[1:]
    cross = (
        ((I < la) != (J < la))
        & (I != la) & (J != la)            # sep1 owns neither doc
        & (I != n - 1) & (J != n - 1)      # sep2 likewise
    )
    if not cross.any():
        return 0
    return int(_lcp_batch(levels, I[cross], J[cross], n).max())


def lcs_run_udf(min_run: int | None = None):
    """(text_a, text_b) → longest shared substring length, in CHARACTERS
    (utf-32 code points, matching SQL substr/length semantics). Arrow-
    batched; per pair the work is NumPy suffix-array doubling.

    ``min_run``: callers that FILTER the result at ``>= min_run`` (the
    extent/containment family) pass it so sub-threshold pairs can take
    the rolling-hash certain-negative gate (``_quick_may_share_run`` —
    same guarantee as the span kernel's gate) and return 0 instead of
    paying the GSA build. On the winnow candidate sets only ~2% of
    pairs actually share a >= 64-char run (measured at sf1.0: 2,471
    true pairs of 149,875 candidates), so the gate removes ~98% of the
    suffix-array work; gated pairs report 0, which the caller's filter
    drops either way — emitted rows are identical.

    The returned UDF is marked non-deterministic: the caller's
    ``max_run >= min_run`` filter otherwise makes Catalyst evaluate the
    UDF twice (once under the pushed filter, once in the projection —
    two ArrowEvalPython nodes, guide-documented behaviour), doubling
    the dominant per-pair kernel. The function is pure, so blocking
    reorder/duplication cannot change emitted rows."""
    use_gate = min_run is not None and min_run >= 16

    @F.pandas_udf(T.LongType())
    def _lcs(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = np.zeros(len(ta), dtype=np.int64)
        for idx, (a, b) in enumerate(zip(ta, tb)):
            if not a or not b:
                continue
            ac = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
            bc = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
            if use_gate:
                if len(ac) < min_run or len(bc) < min_run:
                    continue
                if not _quick_may_share_run(ac, bc, min_run):
                    continue
            out[idx] = _lcs_two(ac, bc)
        return pd.Series(out)

    return _lcs.asNondeterministic()


def substring_extent_pairs(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    min_run: int = 64,
    k: int = 24,
    cap: int = 256,
) -> DataFrame:
    """Pairs sharing a verbatim run of ≥ min_run chars, WITH the exact
    longest-shared-run length: (url_a, url_b, max_run).

    Plan: byte-level winnowed fingerprints with w = min_run − k + 1 (the
    winnow guarantee then covers every run ≥ min_run chars, since a char
    is ≥ 1 UTF-8 byte) → capped bucket join for candidates → texts joined
    to the candidate pairs only → per-pair generalized-suffix-array LCS
    in a pandas UDF → exact filter max_run ≥ min_run.

    Texts ship once per candidate PAIR, not once per fingerprint bucket:
    a bucket-local suffix array would duplicate each doc's text into
    every one of its ~2/(w+1)·len buckets, while candidate volume after
    winnowing/capping is far smaller at web scale. False positives from
    hot-bucket star edges are removed by the exact LCS filter, so the
    output is exact for every emitted pair.
    """
    w = min_run - k + 1
    fps = df.select(
        F.col(id_col), winnow_text_udf(k, w)(F.col(text_col)).alias("_fp")
    )
    cands = _pairs_from_gram_sets(
        fps, F.col("_fp"), id_col, cap, grams_distinct=True
    )
    joined = _attach_pair_texts(cands, df, id_col, text_col)
    out = joined.withColumn(
        "max_run", lcs_run_udf(min_run)(F.col("_ta"), F.col("_tb"))
    )
    return out.filter(F.col("max_run") >= min_run).select(
        "url_a", "url_b", "max_run",
        F.length("_ta").alias("len_a"), F.length("_tb").alias("len_b"),
    )


def containment_decisions(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    frac: float = 0.8,
    min_run: int = 64,
    k: int = 24,
    cap: int = 256,
) -> DataFrame:
    """Containment dedup: when one document's text is (near-)entirely a
    verbatim substring of another's, keep the longer one.

    A pair qualifies when ``max_run / min(len_a, len_b) ≥ frac`` — the
    shared run covers ≥ frac of the shorter document. Decision: remove
    the shorter doc (it adds ≤ (1−frac)·len unique chars); on an exact
    length tie, keep the smaller id (deterministic, oracle-matched).

    Output: (doc_kept, doc_removed, max_run, contain_frac). Lengths
    ride out of the extent join for free (the texts were already
    shipped per candidate pair for the LCS verify), so this adds zero
    exchanges on top of ``substring_extent_pairs``.
    """
    ext = substring_extent_pairs(
        df, id_col=id_col, text_col=text_col, min_run=min_run, k=k, cap=cap
    )
    shorter = F.least("len_a", "len_b")
    cf = F.col("max_run") / shorter
    a, b = F.col("url_a"), F.col("url_b")
    a_kept = (F.col("len_a") > F.col("len_b")) | (
        (F.col("len_a") == F.col("len_b")) & (a < b)
    )
    return (
        ext.withColumn("contain_frac", cf)
        .filter(F.col("contain_frac") >= frac)
        .select(
            F.when(a_kept, a).otherwise(b).alias("doc_kept"),
            F.when(a_kept, b).otherwise(a).alias("doc_removed"),
            "max_run",
            "contain_frac",
        )
    )


# ---------------------------------------------------------------------------
# Cross-document shared-span REMOVAL (span-level training-data dedup):
# instead of dropping whole contained documents, cut every verbatim run of
# >= min_run chars that a document shares with a smaller-id candidate
# partner out of the larger-id document, keeping the smaller-id document
# intact. The whole-doc variants (containment_decisions, the pipeline's
# substr generator) stay the dedup path; this is the surgical variant for
# corpora where long quoted/boilerplate spans should go but the documents
# around them should survive.


def _victim_cover(a_cp: np.ndarray, b_cp: np.ndarray, min_run: int) -> np.ndarray:
    """Merged ``[start, end)`` code-point intervals over ``b_cp`` covering
    every occurrence in b of a substring of length >= min_run that also
    occurs somewhere in a.

    Kernel: generalized suffix array over ``a # b`` (unique sentinels);
    adjacent-entry LCPs batched via the doubling levels; for each
    b-suffix, its max LCP against ANY a-suffix is the larger of two
    restarted running minima over the adjacent LCPs (SA-LCP theorem:
    lcp(sa[i], sa[j]) = min of adjacent lcps across the gap, so the
    nearest a-entry above/below attains the max). Every victim position
    p with cross-LCP r >= min_run contributes [p, p+r); the union over p
    is EXACTLY the union of all shared >= min_run run occurrences — a
    run occurrence at [s, s+len) implies r_s >= len, and any [p, p+r_p)
    is itself a shared-run occurrence — which is what the stride-1-gram
    diagonal-chain SQL oracle computes relationally.
    """
    la, lb = len(a_cp), len(b_cp)
    if la == 0 or lb == 0 or lb < min_run or la < min_run:
        return np.empty((0, 2), dtype=np.int64)
    s = np.concatenate(
        [
            a_cp.astype(np.int64) + 2,
            np.array([0], dtype=np.int64),
            b_cp.astype(np.int64) + 2,
            np.array([1], dtype=np.int64),
        ]
    )
    n = len(s)
    sa, levels = _sa_levels(s)
    is_a = sa < la
    is_b = (sa > la) & (sa < n - 1)

    # For each b-entry t, the max cross-LCP is attained at the NEAREST
    # a-entry above or below in SA order (SA-LCP theorem), so two
    # direct batched LCP computations replace any scan: prev_a[t] /
    # next_a[t] via running max/min over a-entry indices.
    idx = np.arange(n, dtype=np.int64)
    prev_a = np.maximum.accumulate(np.where(is_a, idx, -1))
    next_a = np.minimum.accumulate(np.where(is_a, idx, n)[::-1])[::-1]

    t_b = idx[is_b]
    rr = np.zeros(len(t_b), dtype=np.int64)
    up = prev_a[t_b]
    m_up = up >= 0
    if m_up.any():
        rr[m_up] = _lcp_batch(levels, sa[up[m_up]], sa[t_b[m_up]], n)
    dn = next_a[t_b]
    m_dn = dn < n
    if m_dn.any():
        rr[m_dn] = np.maximum(
            rr[m_dn], _lcp_batch(levels, sa[dn[m_dn]], sa[t_b[m_dn]], n)
        )

    pos = sa[is_b] - (la + 1)
    keep = rr >= min_run
    if not keep.any():
        return np.empty((0, 2), dtype=np.int64)
    return _merge_intervals(pos[keep], pos[keep] + rr[keep])


def _merge_intervals(s: np.ndarray, e: np.ndarray) -> np.ndarray:
    """Union of [s, e) intervals (overlapping OR adjacent merge) as an
    (m, 2) array sorted by start — vectorized gaps-and-islands."""
    order = np.argsort(s, kind="stable")
    s, e = s[order], e[order]
    emax = np.maximum.accumulate(e)
    new = np.concatenate([[True], s[1:] > emax[:-1]])
    starts = s[new]
    ends = np.maximum.reduceat(e, np.flatnonzero(new))
    return np.stack([starts, ends], axis=1)


def _rolling_cp_hashes(cp: np.ndarray, k: int) -> np.ndarray:
    """Stride-1 k-code-point rolling hashes (uint64 wraparound), the
    code-point twin of ``_rolling_byte_hashes`` — O(n) via
    ``_rolling_hash_core`` (value-identical to the previous k-pass
    formulation). Caller guarantees ``len(cp) >= k``."""
    return _rolling_hash_core(cp.astype(np.uint64), k)


def stride1_cp_hash_udf(k: int):
    """text → DISTINCT stride-1 k-char (code-point) window hashes as
    array<bigint> — the exact-substring gram representation
    (``substring_pairs_exact``). utf-32 code points match SQL
    substr/length semantics; texts shorter than k yield an empty array
    (they cannot contain a k-char substring), mirroring the JVM
    ``char_ngrams`` contract."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _grams(texts: pd.Series) -> pd.Series:
        out = []
        empty = np.empty(0, dtype=np.int64)
        for t in texts:
            if not t or len(t) < k:
                out.append(empty)
                continue
            cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
            out.append(np.unique(_rolling_cp_hashes(cp, k)).view(np.int64))
        return pd.Series(out)

    # pure; see winnow_text_udf on why non-deterministic marking is the
    # single-evaluation guard for explode consumers
    return _grams.asNondeterministic()


def _quick_may_share_run(
    ac: np.ndarray, bc: np.ndarray, min_run: int
) -> bool:
    """Cheap certain-negative gate before the GSA kernel: any shared
    run of >= min_run code points contains a (min_run-7)-gram starting
    at a stride-8 position of a AND at some position of b, so an empty
    hash intersection PROVES no qualifying run (hash equality is
    deterministic on equal windows; collisions only produce false
    ACCEPTS, which the exact kernel then resolves to zero intervals).
    ~10x cheaper than the SA build on sub-threshold sharers — the
    dominant candidate class on an already-deduplicated corpus."""
    g = min_run - 7
    ah = _rolling_cp_hashes(ac, g)[::8]
    bh = _rolling_cp_hashes(bc, g)
    return bool(np.isin(ah, bh).any())


def victim_spans_udf(min_run: int):
    """(keeper_text, victim_text) → flattened [s0,e0,s1,e1,...] merged
    code-point intervals of victim chars covered by >= min_run shared
    runs (empty when nothing qualifies). Arrow-batched; per pair the
    work is the NumPy GSA kernel above, gated by the rolling-hash
    quick-reject for pairs whose sharing is all below min_run."""
    use_gate = min_run >= 16  # below that the gate costs more than SA

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _spans(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = []
        for a, b in zip(ta, tb):
            if not a or not b:
                out.append([])
                continue
            ac = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
            bc = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
            if len(ac) < min_run or len(bc) < min_run:
                out.append([])
                continue
            if use_gate and not _quick_may_share_run(ac, bc, min_run):
                out.append([])
                continue
            out.append(_victim_cover(ac, bc, min_run).reshape(-1).tolist())
        return pd.Series(out)

    # non-deterministic marking: the caller filters on size(_iv) > 0,
    # which otherwise duplicates the whole GSA kernel into a second
    # ArrowEvalPython below the pushed filter (pure function — blocking
    # reorder/duplication cannot change emitted rows)
    return _spans.asNondeterministic()


def scrub_spans_udf():
    """(text, flattened intervals from ALL of the doc's pairs) →
    (clean_text, removed_chars, n_spans): re-merge the union across
    partners, then splice on Python-str (code-point) offsets — the same
    unit as SQL substr/length, so the DuckDB twin splices identically."""
    ret = T.StructType(
        [
            T.StructField("clean_text", T.StringType()),
            T.StructField("removed_chars", T.LongType()),
            T.StructField("n_spans", T.LongType()),
        ]
    )

    @F.pandas_udf(ret)
    def _scrub(texts: pd.Series, flat: pd.Series) -> pd.DataFrame:
        ct, rc, ns = [], [], []
        for t, fl in zip(texts, flat):
            arr = np.asarray(fl, dtype=np.int64).reshape(-1, 2)
            iv = _merge_intervals(arr[:, 0], arr[:, 1])
            pieces, prev = [], 0
            for st, en in iv.tolist():
                pieces.append(t[prev:st])
                prev = en
            pieces.append(t[prev:])
            ct.append("".join(pieces))
            rc.append(int((iv[:, 1] - iv[:, 0]).sum()))
            ns.append(int(len(iv)))
        return pd.DataFrame({"clean_text": ct, "removed_chars": rc, "n_spans": ns})

    return _scrub


def span_scrub(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    min_run: int = 64,
    k: int = 24,
    cap: int = 256,
) -> DataFrame:
    """Cross-document exact-substring span removal. For every candidate
    pair (a, b) with a < b sharing a verbatim run >= min_run chars, cut
    ALL such shared-run occurrences out of b (the victim); a keeps its
    text. A doc victim to several partners removes the UNION of their
    spans; all pair computations read ORIGINAL texts, so the result is
    order-independent and deterministic.

    Returns one row per MODIFIED doc: (id_col, clean_text,
    removed_chars, n_spans). Untouched docs are absent (join back on
    id for a full-corpus view).

    Plan shape: the extent operator's candidate machinery (winnowed
    fingerprints, capped buckets — texts ship once per candidate pair,
    never per bucket), then two candidate-proportional exchanges: the
    per-victim groupBy and the victim-text join-back. Nothing here is
    corpus-sized. Hot-bucket star capping bounds pair volume like the
    rest of the substring family; at web scale a doc sharing boilerplate
    with millions of partners gets its spans from the star
    representatives (the union converges after a handful of partners —
    the spans are the same boilerplate).
    """
    w = min_run - k + 1
    fps = df.select(
        F.col(id_col), winnow_text_udf(k, w)(F.col(text_col)).alias("_fp")
    )
    cands = _pairs_from_gram_sets(
        fps, F.col("_fp"), id_col, cap, grams_distinct=True
    )
    texts = df.select(F.col(id_col), F.col(text_col))
    joined = _attach_pair_texts(cands, df, id_col, text_col)
    iv = joined.select(
        F.col("url_b").alias("_vid"),
        victim_spans_udf(min_run)(F.col("_ta"), F.col("_tb")).alias("_iv"),
    ).filter(F.size("_iv") > 0)
    per_doc = iv.groupBy("_vid").agg(F.flatten(F.collect_list("_iv")).alias("_ivs"))
    # broadcast the text side (same rationale as _attach_pair_texts):
    # per_doc must stay the stream side so the splice UDF inherits its
    # aggregation partitioning instead of the text scan's 1-2 partitions
    out = per_doc.join(
        F.broadcast(
            texts.select(F.col(id_col).alias("_vid"), F.col(text_col).alias("_t"))
        ),
        "_vid",
    )
    res = out.select(
        F.col("_vid").alias(id_col),
        scrub_spans_udf()(F.col("_t"), F.col("_ivs")).alias("_r"),
    )
    return res.select(
        id_col, "_r.clean_text", "_r.removed_chars", "_r.n_spans"
    )


def substring_pairs_winnow(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    k: int = 48,
    w: int = 17,
    cap: int = 256,
) -> DataFrame:
    """Pairs sharing a run of ≥ k+w−1 chars — winnowed fingerprints.

    Guarantee: any common substring of length ≥ k+w−1 contains a full
    window of w k-grams on both sides; both documents select the same
    minimal gram hash from it, so the pair lands in one bucket.
    """
    fps = df.select(
        F.col(id_col), winnow_text_udf(k, w)(F.col(text_col)).alias("_fp")
    )
    return _pairs_from_gram_sets(
        fps, F.col("_fp"), id_col, cap, grams_distinct=True
    )
