from __future__ import annotations

import numpy as np
import pandas as pd

from dedupe_trees_spark.datagen import GenConfig, generate_pages
from dedupe_trees_spark.operators.substring import (
    _winnow_batch,
    span_scrub,
    substring_pairs_exact,
    substring_pairs_winnow,
)


def _fixture(spark):
    shared = "S" + "hared span content here! " * 12  # ~300 chars
    rows = [
        ("u1", "prefix one two three " * 5 + shared + " suffix alpha beta " * 5),
        ("u2", "totally different intro text " * 6 + shared + " closing words " * 4),
        ("u3", "no overlap with anything else at all " * 10),
    ]
    return spark.createDataFrame(rows, ["url", "text"])


def test_substring_exact_finds_shared_span(spark):
    pairs = {
        (r["url_a"], r["url_b"])
        for r in substring_pairs_exact(_fixture(spark), k=64).collect()
    }
    assert pairs == {("u1", "u2")}


def test_substring_winnow_finds_shared_span(spark):
    pairs = {
        (r["url_a"], r["url_b"])
        for r in substring_pairs_winnow(_fixture(spark), k=48, w=17).collect()
    }
    assert ("u1", "u2") in pairs
    assert all({a, b} != {"u1", "u3"} and {a, b} != {"u2", "u3"} for a, b in pairs)


def test_winnow_batch_guarantee_and_sampling():
    rng = np.random.default_rng(5)
    h = rng.integers(-(2**62), 2**62, size=500, dtype=np.int64)
    out = _winnow_batch(pd.Series([h]), w=17)[0]
    # samples ~2/(w+1) of grams, and every selected value is a window min
    assert 10 < len(out) < 120
    # short doc: single min
    out2 = _winnow_batch(pd.Series([h[:5]]), w=17)[0]
    assert list(out2) == [h[:5].min()]


def test_winnow_subset_of_exact_on_synthetic(spark):
    """Winnowed pairs ⊆ exact-gram pairs at the same effective length,
    and winnowing catches every planted substr cluster pair."""
    cfg = GenConfig(n_docs=800, seed=42)
    pages = generate_pages(spark, cfg, partitions=8).select(
        "url", "text", "truth_cluster", "truth_kind"
    )
    pages.cache()
    k, w = 48, 17
    exact = {
        (r["url_a"], r["url_b"])
        for r in substring_pairs_exact(pages, k=k).collect()
    }
    winnow = {
        (r["url_a"], r["url_b"])
        for r in substring_pairs_winnow(pages, k=k, w=w).collect()
    }
    assert winnow <= exact
    # every substr cluster is fully detected (planted spans are ≥ 200 chars
    # > k+w-1 = 64)
    truth = pages.toPandas()
    for root, grp in truth[truth.truth_kind == "substr"].groupby("truth_cluster"):
        urls = sorted(grp["url"])
        if len(urls) < 2:
            continue
        root_url = grp.loc[grp.text.str.len().idxmax(), "url"]
        for u in urls:
            if u == root_url:
                continue
            pair = (min(u, root_url), max(u, root_url))
            assert pair in winnow, f"missed substr pair {pair} in cluster {root}"
    pages.unpersist()


# ---------------------------------------------------------------------------
# suffix-array extents


def _brute_lcs(a: str, b: str) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


def test_lcs_two_matches_bruteforce_fuzz():
    import numpy as np

    from dedupe_trees_spark.operators.substring import _lcs_two

    rng = np.random.default_rng(17)
    for _ in range(200):
        la, lb = rng.integers(1, 50, size=2)
        a = "".join(rng.choice(list("abcd"), size=la))
        b = "".join(rng.choice(list("abcd"), size=lb))
        got = _lcs_two(
            np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32),
            np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32),
        )
        assert got == _brute_lcs(a, b), (a, b)


def test_lcs_counts_characters_not_bytes():
    import numpy as np

    from dedupe_trees_spark.operators.substring import _lcs_two

    a, b = "xx共有部分テキストyy", "zz共有部分テキストww"
    got = _lcs_two(
        np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32),
        np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32),
    )
    assert got == 8  # 8 shared CJK chars, regardless of UTF-8 byte width


def test_substring_extent_pairs_exact_run_lengths(spark):
    from dedupe_trees_spark.operators.substring import substring_extent_pairs

    import numpy as np

    rng = np.random.default_rng(23)

    def rand_text(n):
        return "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz "), size=n))

    shared_100 = rand_text(100)
    shared_70 = rand_text(70)
    rows = [
        ("d1", rand_text(300) + shared_100 + rand_text(300)),
        ("d2", rand_text(250) + shared_100 + rand_text(350)),  # 100-char run w/ d1
        ("d3", shared_70 + rand_text(500)),
        ("d4", rand_text(400) + shared_70),                    # 70-char run w/ d3
        ("d5", rand_text(600)),                                # no long run
    ]
    df = spark.createDataFrame(rows, ["url", "text"])
    out = {
        (r["url_a"], r["url_b"]): r["max_run"]
        for r in substring_extent_pairs(df, min_run=64, k=24, cap=4096).collect()
    }
    assert out[("d1", "d2")] == 100
    assert out[("d3", "d4")] == 70
    assert all({a, b} in ({"d1", "d2"}, {"d3", "d4"}) for a, b in out)


def test_containment_decisions_tie_and_threshold(spark):
    from dedupe_trees_spark.operators.substring import containment_decisions

    core = "x".join(f"token{i}" for i in range(40))  # ~280 chars, unique-ish
    rows = [
        (1, core + " tail that makes doc one longer than the core copy"),
        (2, core),                       # fully contained in 1 (and 3)
        (3, core + " different tail of comparable size for the tie doc"),
        (4, "entirely unrelated filler " * 12),
    ]
    # docs 1 and 3: share exactly `core` (~full containment of neither:
    # core/len ≈ 0.85 of each -> above 0.8), equal-ish lengths
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = containment_decisions(
        df, id_col="doc_id", frac=0.8, min_run=64, k=24, cap=64
    )
    got = {(r["doc_kept"], r["doc_removed"]): r for r in out.collect()}
    # 2 is removed in favor of both longer supersets
    assert (1, 2) in got and got[(1, 2)]["contain_frac"] == 1.0
    assert (3, 2) in got
    # the 1-3 pair: kept side is the longer doc (or smaller id on a tie)
    pair13 = [k for k in got if set(k) == {1, 3}]
    if pair13:
        la, lb = len(rows[0][1]), len(rows[2][1])
        want_kept = 1 if (la > lb or (la == lb)) else 3
        assert pair13[0][0] == want_kept
    # doc 4 never appears
    assert all(4 not in k for k in got)


def test_containment_decisions_exact_tie_keeps_smaller_id(spark):
    from dedupe_trees_spark.operators.substring import containment_decisions

    t = "y".join(f"word{i}" for i in range(30))
    df = spark.createDataFrame([(7, t), (5, t)], ["doc_id", "text"])
    out = containment_decisions(
        df, id_col="doc_id", frac=0.8, min_run=64, k=24, cap=64
    ).collect()
    assert len(out) == 1
    assert out[0]["doc_kept"] == 5 and out[0]["doc_removed"] == 7


# ---------------------------------------------------------------------------
# span_scrub: cross-document shared-span removal


def _uniq(tag: str, n: int) -> str:
    """Deterministic filler with no 64-char self/cross repeats."""
    return " ".join(f"{tag}{i:04d}" for i in range(n))


def test_span_scrub_hand_example(spark):
    shared = "Z" + "shared boilerplate span body " * 4  # ~117 chars
    a = _uniq("alpha", 30) + shared + _uniq("omega", 30)
    b = _uniq("left", 25) + shared + _uniq("right", 25)
    d = spark.createDataFrame([("u1", a), ("u2", b)], ["url", "text"])
    out = {r["url"]: r for r in span_scrub(d, min_run=64, k=24).collect()}
    # only the larger id is modified, and the span is excised exactly
    assert set(out) == {"u2"}
    r = out["u2"]
    assert r["n_spans"] == 1
    assert r["removed_chars"] >= len(shared)
    assert "shared boilerplate" not in r["clean_text"]
    assert r["clean_text"].startswith("left0000")
    assert r["clean_text"].endswith("right0024")
    assert len(r["clean_text"]) == len(b) - r["removed_chars"]


def test_span_scrub_union_across_partners_merges(spark):
    s1 = "Q" + "first shared region payload " * 4   # ~113 chars
    s2 = "R" + "second shared region payload " * 4  # ~117 chars
    a1 = _uniq("pa", 30) + s1 + _uniq("pb", 30)
    a2 = _uniq("pc", 30) + s2 + _uniq("pd", 30)
    # victim carries s1 and s2 ADJACENT: the two partners' intervals
    # must union into one merged span
    b = _uniq("vx", 25) + s1 + s2 + _uniq("vy", 25)
    d = spark.createDataFrame(
        [("u1", a1), ("u2", a2), ("u9", b)], ["url", "text"]
    )
    out = {r["url"]: r for r in span_scrub(d, min_run=64, k=24).collect()}
    assert set(out) == {"u9"}
    r = out["u9"]
    assert r["n_spans"] == 1
    assert r["removed_chars"] >= len(s1) + len(s2)
    assert "shared region" not in r["clean_text"]


def test_span_scrub_min_run_boundary(spark):
    # distinct delimiters around the run so the true shared run is
    # EXACTLY the B-block (filler tags would otherwise extend it)
    shared63 = "B" * 63
    a = _uniq("ka", 30) + "<" + shared63 + ">" + _uniq("kb", 30)
    b = _uniq("kc", 30) + "[" + shared63 + "]" + _uniq("kd", 30)
    d = spark.createDataFrame([("u1", a), ("u2", b)], ["url", "text"])
    assert span_scrub(d, min_run=64, k=24).count() == 0
    shared64 = "B" * 64
    d2 = spark.createDataFrame(
        [("u1", a.replace(shared63, shared64)), ("u2", b.replace(shared63, shared64))],
        ["url", "text"],
    )
    rows = span_scrub(d2, min_run=64, k=24).collect()
    assert len(rows) == 1 and rows[0]["url"] == "u2"
    assert rows[0]["removed_chars"] == 64


def test_span_scrub_chain_uses_original_texts(spark):
    """u2 is victim vs u1 AND keeper vs u3: u3's spans come from u2's
    ORIGINAL text (order-independent semantics)."""
    s12 = "M" + "one two chain span content " * 4  # shared by u1,u2
    a = _uniq("ca", 30) + s12 + _uniq("cb", 30)
    b = _uniq("cc", 30) + s12 + _uniq("cd", 30)
    c = _uniq("ce", 30) + s12 + _uniq("cf", 30)  # shares s12 with both
    d = spark.createDataFrame([("u1", a), ("u2", b), ("u3", c)], ["url", "text"])
    out = {r["url"]: r for r in span_scrub(d, min_run=64, k=24).collect()}
    # u2 scrubbed (victim of u1); u3 scrubbed too — even though u2 loses
    # the span, u3's pairs read u2's original text (and u1 still has it)
    assert set(out) == {"u2", "u3"}
    for r in out.values():
        assert "chain span" not in r["clean_text"]


def test_span_scrub_whole_doc_covered(spark):
    shared = "W" + "entire doc is one big shared span " * 6
    a = _uniq("wa", 30) + shared + _uniq("wb", 30)
    d = spark.createDataFrame([("u1", a), ("u2", shared)], ["url", "text"])
    rows = span_scrub(d, min_run=64, k=24).collect()
    assert len(rows) == 1
    assert rows[0]["url"] == "u2"
    assert rows[0]["clean_text"] == ""
    assert rows[0]["removed_chars"] == len(shared)


def test_rolling_hash_core_matches_kpass_formulation():
    """r06: the O(n) prefix rolling hash (_rolling_hash_core) must be
    value-identical to the original k-pass polynomial formulation —
    winnow fingerprints, the LCS gate, and the stride-1 exact grams all
    key off these values, so a drift would silently change candidate
    sets."""
    from dedupe_trees_spark.operators.substring import (
        _RB_BASE,
        _RB_MIX,
        _rolling_byte_hashes,
        _rolling_hash_core,
    )

    def kpass(vals, k):
        c = vals.astype(np.uint64)
        m = len(c) - k + 1
        h = np.zeros(m, dtype=np.uint64)
        for j in range(k):
            h = h * _RB_BASE + c[j : j + m]
        h ^= h >> np.uint64(33)
        h *= _RB_MIX
        h ^= h >> np.uint64(29)
        return h

    rng = np.random.default_rng(7)
    for k in (8, 24, 57, 64):
        for n in (k, k + 1, 333, 4096):
            v = rng.integers(0, 2**32, size=n, dtype=np.uint64)
            assert np.array_equal(_rolling_hash_core(v, k), kpass(v, k)), (k, n)
    # byte path including the short-input zero pad
    for data in (b"", b"ab", b"repeated words " * 30):
        b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
        if len(b) < 24:
            b = np.pad(b, (0, 24 - len(b)), constant_values=0)
        assert np.array_equal(_rolling_byte_hashes(data, 24), kpass(b, 24))


def test_lcs_udf_gate_preserves_filtered_pairs(spark):
    """r06: lcs_run_udf(min_run) takes the certain-negative gate; the
    extent operator's emitted pairs and exact run lengths must be
    unchanged vs the brute-force LCS for every pair."""
    from dedupe_trees_spark.operators.substring import substring_extent_pairs

    docs = generate_pages(spark, GenConfig(n_docs=300, seed=11)).select(
        "url", "text"
    )
    got = {
        (r["url_a"], r["url_b"]): r["max_run"]
        for r in substring_extent_pairs(
            docs, min_run=64, k=24, cap=256
        ).collect()
    }
    assert got, "fixture must contain qualifying pairs"
    texts = {r["url"]: r["text"] for r in docs.collect()}

    def brute_lcs(a, b):
        best = 0
        # restrict to candidate anchors for speed: all 64-gram matches
        grams_b = {b[i : i + 64] for i in range(len(b) - 63)}
        for i in range(len(a) - 63):
            if a[i : i + 64] in grams_b:
                # extend greedily from this anchor
                for j in range(len(b) - 63):
                    if b[j : j + 64] == a[i : i + 64]:
                        ln = 64
                        while (
                            i + ln < len(a)
                            and j + ln < len(b)
                            and a[i + ln] == b[j + ln]
                        ):
                            ln += 1
                        best = max(best, ln)
        return best

    for (ua, ub), run in got.items():
        assert run == brute_lcs(texts[ua], texts[ub]), (ua, ub)


def test_sliding_min_matches_stride_tricks():
    """r06: the O(n) block prefix/suffix sliding-window min must be
    value-identical to the stride-tricks formulation — winnow
    fingerprint selection keys off it."""
    from dedupe_trees_spark.operators.substring import _sliding_min

    rng = np.random.default_rng(13)
    for dtype in (np.uint64, np.int64):
        for n in (42, 43, 100, 300, 5000):
            for w in (1, 2, 17, 41):
                if n <= w:
                    continue
                h = rng.integers(0, 2**63, size=n).astype(dtype)
                win = np.lib.stride_tricks.sliding_window_view(h, w)
                assert np.array_equal(_sliding_min(h, w), win.min(axis=1))
